"""Unit contracts of the repo tools (no Spark session needed)."""

import os
import sys

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))


def test_heap_gb_parses_spark_memory_spellings():
    """The heap fail-fast must read memory specs the way Spark does:
    suffixless spark.driver.memory is MiB (not bytes), two-letter
    suffixes are valid, and an unparseable spec returns None so the
    guard skips rather than exiting spuriously."""
    from scale_probe import _heap_gb

    assert _heap_gb("48g") == 48.0
    assert _heap_gb("48G") == 48.0
    assert _heap_gb("2gb") == 2.0
    assert _heap_gb("8192m") == 8.0
    assert _heap_gb("8192") == 8.0      # bare number = MiB, Spark semantics
    assert _heap_gb("1048576k") == 1.0
    assert _heap_gb("1t") == 1024.0
    assert _heap_gb("oops") is None
    assert _heap_gb("") is None


def test_tools_package_imports_resolve():
    """Every `from deeplake_spark... import name` in tools/*.py —
    including the lazy ones inside functions — names something the
    package has: the probe scripts run rarely, so a renamed or deleted
    function would otherwise break them silently."""
    import ast
    import glob
    import importlib

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    seen, missing = 0, []
    for path in sorted(glob.glob(os.path.join(root, "tools", "*.py"))):
        with open(path) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if not (isinstance(node, ast.ImportFrom) and node.module
                    and node.module.split(".")[0] == "deeplake_spark"):
                continue
            mod = importlib.import_module(node.module)
            for alias in node.names:
                seen += 1
                if hasattr(mod, alias.name):
                    continue
                try:  # `from package import submodule`
                    importlib.import_module(f"{node.module}.{alias.name}")
                except ImportError:
                    missing.append(f"{os.path.basename(path)}:"
                                   f"{node.lineno} {node.module}."
                                   f"{alias.name}")
    assert seen > 0 and not missing, missing
