from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from deeplake_spark import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("deeplake-spark-tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    # tests build kb-row indexes; the corpus-size cost floor (default
    # 200k rows, tuned for the SCALING.md break-even) would decline
    # every numeric/exact route at test scale. Disabled session-wide;
    # the floor's own plan-pair tests set it explicitly and restore.
    s.conf.set("spark.sql.deeplake.routing.minCorpusRows", "0")
    # likewise the corpus-relative ANN k ceiling (default 0.1% of the
    # corpus) would decline every k=10 route on the kb-row fixtures;
    # frac=1.0 keeps ceiling == corpus size (inert for k <= n) while
    # still exercising the conf path. Its own tests set it explicitly.
    s.conf.set("spark.sql.deeplake.routing.ann.maxKFrac", "1.0")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def spark_global(spark):
    """Alias usable inside hypothesis-driven tests (session reuse)."""
    return spark


@pytest.fixture(scope="session")
def round_trip(spark, tmp_path_factory):
    """`round_trip(index, source=None)`: the unsaved build `index`
    saved under a fresh temporary directory through
    INDEX_KINDS[kind].save and loaded back through
    INDEX_KINDS[kind].load — probes take saved-and-loaded indexes only.
    `source` binds the rerank kinds' live relation and defaults to the
    one the build carries."""
    from deeplake_spark.operators.indexes import INDEX_KINDS

    def save_and_load(index, source=None):
        kind = next(k for k, spec in INDEX_KINDS.items()
                    if type(index) is spec.cls)
        spec = INDEX_KINDS[kind]
        path = str(tmp_path_factory.mktemp(f"round_trip_{kind}"))
        spec.save(index, path)
        if source is None:
            source = getattr(index, "source", None)
        return spec.load(spark, path, source)

    return save_and_load
