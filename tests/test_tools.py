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


def test_caches_live_in_memo_module():
    """Every module-level cache is a memo.Memo instance defined in
    deeplake_spark/memo.py: no other package module binds a
    module-level name containing CACHE or MEMO. One memo class, one
    eviction policy and one plan-key rule stay in one place."""
    import ast
    import glob

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(root, "deeplake_spark")

    def module_bindings(stmts):
        for st in stmts:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef,
                               ast.ClassDef)):
                continue
            if isinstance(st, ast.Assign):
                targets = st.targets
            elif isinstance(st, (ast.AnnAssign, ast.AugAssign)):
                targets = [st.target]
            elif isinstance(st, (ast.Import, ast.ImportFrom)):
                for alias in st.names:
                    yield st.lineno, (alias.asname or alias.name)
                continue
            else:
                targets = []
                for field in ("body", "orelse", "finalbody", "handlers"):
                    yield from module_bindings(getattr(st, field, []))
            for t in targets:
                for node in ast.walk(t):
                    if isinstance(node, ast.Name):
                        yield st.lineno, node.id

    seen, offenders = 0, []
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"),
                                 recursive=True)):
        if os.path.relpath(path, pkg) == "memo.py":
            continue
        with open(path) as f:
            tree = ast.parse(f.read())
        for lineno, name in module_bindings(tree.body):
            seen += 1
            if "CACHE" in name or "MEMO" in name:
                offenders.append(
                    f"{os.path.relpath(path, root)}:{lineno} {name}")
    assert seen > 0 and not offenders, offenders


def test_side_tables_read_only_through_memo():
    """Index and sketch side tables are read only through
    memo.side_table (keyed on the table's newest manifest, so an
    unchanged index is read once per session) and written only through
    indexes.write_side_table (the one kill-safe snapshot write): no
    `read...parquet(` call and no `.write` outside write_side_table in
    the index, similarity, multimodal and sketch operators."""
    import ast
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ops = os.path.join(root, "deeplake_spark", "operators")
    reader = re.compile(r"\.read(\s*\.\s*\w+\([^()]*\))*\s*\.\s*parquet\(")
    offenders = []
    for name in ("indexes", "similarity", "multimodal", "sketches"):
        with open(os.path.join(ops, f"{name}.py")) as f:
            src = f.read()
        offenders += [f"{name}.py:{src.count(chr(10), 0, m.start()) + 1}"
                      for m in reader.finditer(src)]
        tree = ast.parse(src)
        shared = {id(n) for fn in ast.walk(tree)
                  if isinstance(fn, ast.FunctionDef)
                  and fn.name == "write_side_table" for n in ast.walk(fn)}
        offenders += [f"{name}.py:{n.lineno} .write"
                      for n in ast.walk(tree)
                      if isinstance(n, ast.Attribute) and n.attr == "write"
                      and id(n) not in shared]
    assert offenders == [], offenders
    with open(os.path.join(root, "deeplake_spark", "memo.py")) as f:
        assert re.search(r"\.read\(\)[\s\S]*?\.parquet\(", f.read()), \
            "memo.side_table must read"


def test_saved_index_path_is_the_same_in_every_process():
    """queries.saved_index keys its directory on a digest of sf_dir,
    not on the per-process salted builtin `hash`: two processes with
    different PYTHONHASHSEED save into the same directory, so a later
    save lands a new manifest there instead of a new /tmp directory."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = ("from deeplake_spark.queries import saved_index_path; "
            "print(saved_index_path('/data/sf0.1', 'inv'))")
    paths = {subprocess.run(
        [sys.executable, "-c", code], cwd=root, check=True,
        capture_output=True, text=True,
        env={**os.environ, "PYTHONHASHSEED": seed}).stdout.strip()
        for seed in ("1", "2")}
    assert len(paths) == 1 and "dls_inv_" in paths.pop()


_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_JVM = os.path.join(_ROOT, "deeplake_spark", "plans", "jvm")


def test_routing_constants_match_jvm_rule():
    """The TQL routes (operators/indexes.py) and the plain-SQL Catalyst
    rule (IndexRoutingRule.java) gate and prune with the same numbers
    — selectivity gate and corpus floor defaults, the range granule,
    range count, coverage and chunk cap — and read the same conf keys,
    so one query cannot route or prune differently by front end."""
    import re

    from deeplake_spark.operators import indexes as ix

    with open(os.path.join(_JVM, "src", "io", "deeplake", "spark", "ext",
                           "IndexRoutingRule.java")) as f:
        src = f.read()

    def java(name):
        m = re.search(rf"static final \w+ {name}\s*=\s*([^;]+);", src)
        assert m, name
        v = m.group(1).strip()
        if v.startswith('"'):
            return v.strip('"')
        return float(v.rstrip("L").replace("_", ""))

    python = {
        "DEFAULT_MAX_SELECTIVITY": ix.DEFAULT_MAX_SELECTIVITY,
        "DEFAULT_MIN_CORPUS_ROWS": ix.DEFAULT_MIN_CORPUS_ROWS,
        "RANGE_GRANULE": ix.RANGE_GRANULE,
        "MAX_RANGES": ix.MAX_RANGES,
        "MAX_RANGE_COVERAGE": ix.MAX_RANGE_COVERAGE,
        "RANGE_CHUNK_CAP": ix._RANGE_CHUNK_CAP,
        "MAX_SELECTIVITY_KEY": ix.MAX_SELECTIVITY_KEY,
        "MIN_CORPUS_ROWS_KEY": ix.MIN_CORPUS_ROWS_KEY,
        "RANGE_PRUNE_KEY": ix.RANGE_PRUNE_KEY,
    }
    assert {name: java(name) for name in python} == python


def test_committed_jar_is_built_from_committed_sources():
    """tools/build_ext_jar.sh stamps the jar with the sha256 of the
    `sha256sum` listing of its Java sources; a source edit committed
    without a rebuild leaves a stale jar that every SQL-routing test
    would silently run instead of the edited rule."""
    import hashlib
    import zipfile

    src = os.path.join(_JVM, "src")
    rels = sorted("./" + os.path.relpath(os.path.join(d, name), src)
                  for d, _, names in os.walk(src)
                  for name in names if name.endswith(".java"))
    listing = ""
    for rel in rels:
        with open(os.path.join(src, rel), "rb") as f:
            listing += f"{hashlib.sha256(f.read()).hexdigest()}  {rel}\n"
    with zipfile.ZipFile(os.path.join(_JVM, "deeplake-spark-ext.jar")) as z:
        stamped = z.read("META-INF/deeplake-src.sha256").decode().strip()
    assert stamped == hashlib.sha256(listing.encode()).hexdigest(), \
        "stale jar: rebuild it with tools/build_ext_jar.sh"
