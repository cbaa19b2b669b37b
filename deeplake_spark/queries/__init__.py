"""Query registry — the single source of truth consumed by
``__spark_entry__.py`` (driver correctness gate) and ``bench.py``.
All but a handful of queries carry exact DuckDB oracles (the exceptions
are index-routed rankings whose result depends on trained cells —
``load_all()`` reports the live counts).

Every implemented operator from SURVEY.md §2 registers here as:
  - a callable ``(spark, sf_dir) -> DataFrame`` (the Spark-first plan)
  - an optional DuckDB oracle SQL string over the same parquet tables
    (omitted only for genuinely non-SQL-expressible ops; the driver then
    records a weaker rows-only check).

Column names are aliased identically on both sides — the driver's compare
sorts columns by name before hashing values.

Float discipline (oracle exactness): double sums are computed as
``CAST(expr AS DECIMAL(38,6))`` sums on BOTH sides, which makes the
aggregation exact and order-independent; ratios/averages are rounded to 6
decimals on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, Query] = {}


def query(name: str, oracle: str | None = None, doc: str = "", tags: tuple[str, ...] = ()):
    """Decorator registering a query implementation + its oracle SQL."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, doc=doc, tags=tags)
        return fn

    return deco


def saved_index_path(sf_dir: str, name: str) -> str:
    """<tmp>/dls_<name>_<digest of sf_dir>: the same directory in every
    process (the builtin `hash` of a str is salted per process), so a
    later save lands a new manifest there and GC collects the old
    files instead of leaving a directory behind per process."""
    import hashlib
    import os
    import tempfile

    digest = hashlib.md5(sf_dir.encode()).hexdigest()[:16]
    return os.path.join(tempfile.gettempdir(), f"dls_{name}_{digest}")


def saved_index(spark: SparkSession, sf_dir: str, name: str, kind: str,
                source, column: str, id_col: str, **options):
    """The `kind` index over `column` of the relation `source()` (a
    zero-arg callable, called on a miss only), built and saved once per
    session and table through indexes.INDEX_KINDS under
    `saved_index_path`, then loaded back — the build-at-ingest,
    probe-per-query protocol."""
    from deeplake_spark import memo
    from deeplake_spark.operators.indexes import INDEX_KINDS

    def build():
        spec, df = INDEX_KINDS[kind], source()
        path = saved_index_path(sf_dir, name)
        spec.save(spec.build(df, column, id_col, options), path)
        return spec.load(spark, path, df)

    return memo.INDEX_CACHE.get((memo.session_key(spark), sf_dir, name),
                                build)


def load_all() -> dict[str, Query]:
    """Import every query module (side effect: fills REGISTRY)."""
    from deeplake_spark.queries import (  # noqa: F401
        dedup_ops,
        relational,
        restructure_ops,
        text_ops,
        vector_ops,
    )

    return REGISTRY
