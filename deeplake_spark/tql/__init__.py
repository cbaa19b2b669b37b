"""TQL dialect front-end: parse TQL text, translate to Spark DataFrame
plans (SURVEY §3.1 lifecycle, Phase 1 of the build plan).

Public surface mirrors `python/deeplake/tql.pyi`:
  - `query(text, ...)` → DataFrame
  - `parse_query` / `is_valid` / `is_filter` utilities
    (cpp/tql/tql.hpp:134-162)
  - `register_function` → Spark UDF registration
    (tql.pyi:100-124, tql.md:536-553)
"""

from __future__ import annotations

from deeplake_spark.tql.parser import is_valid, parse_query
from deeplake_spark.tql.translator import (
    Options,
    Translator,
    TQLTranslationError,
    is_filter,
    tql_query as query,
)

_REGISTERED_FUNCTIONS: dict[str, object] = {}


def prepare(text: str, spark=None, tables=None, default=None, indexes=None,
            options=None):
    """Prepared statement: parse once, bind `?` params per run —
    reference prepare_query/run_batch (cpp/tql/executor.hpp:49,
    python/deeplake/__init__.pyi:612-641). The returned callable also
    exposes `.run_batch(param_sets)`. `options` (tql::options) gates
    features/index use per run; `parsing_only` makes run() validate
    and return None. `indexes` takes saved-and-loaded indexes only, as
    in `query`."""
    node = parse_query(text)
    return Executor(text, node, spark=spark, tables=tables, default=default,
                    indexes=indexes, options=options)


class Executor:
    """Prepared-statement handle (reference Executor,
    `cpp/tql/executor.hpp:49`, `__init__.pyi` Executor:
    run_single/run_batch/get_query_string + *_async). Callable for the
    engine's historical `prepare(...)(*params)` spelling."""

    def __init__(self, text, node, *, spark=None, tables=None, default=None,
                 indexes=None, options=None):
        self._text = text
        self._node = node
        self._kw = dict(spark=spark, tables=tables, default=default,
                        indexes=indexes, options=options)

    def get_query_string(self) -> str:
        return self._text

    def run_single(self, *params):
        opts = self._kw["options"]
        if opts is not None and opts.parsing_only:
            return None
        return Translator(
            spark=self._kw["spark"], tables=self._kw["tables"],
            default=self._kw["default"], params=list(params),
            indexes=self._kw["indexes"], options=opts,
        ).translate(self._node)

    __call__ = run_single

    def run_batch(self, param_sets):
        return [self.run_single(*p) for p in param_sets]

    def run_single_async(self, *params):
        from deeplake_spark.streaming.feed import query_async as _qa

        return _qa(self.run_single, *params)

    def run_batch_async(self, param_sets):
        from deeplake_spark.streaming.feed import query_async as _qa

        return _qa(self.run_batch, param_sets)


def register_function(func=None, *, name: str | None = None, returnType="double",
                      is_batch: bool | None = None, dataset=None):
    """Register a Python function for use inside TQL queries
    (deeplake.tql.register_function, tql.pyi:100-124).

    `is_batch=True` registers an Arrow-batched pandas UDF — the whole
    column arrives as a `pandas.Series` per batch, ~10-100× cheaper than
    per-row Python calls (the reference's `is_batch=true` fast path,
    cpp/tql/tql.hpp:179-204). `is_batch=False` forces the row-at-a-time
    scalar UDF. Default `None` autodetects by probing the callable with
    a small Series: if it returns an equal-length Series the vectorized
    path is used. The probe uses numeric input, so string-vectorized
    callables (e.g. using `.str`) should pass `is_batch=True` explicitly.

    `dataset=ds` scopes the function to that dataset's own registry,
    resolved at bind time before the process-global one — two datasets
    may carry conflicting definitions under the same name
    (tql::functions_registry, cpp/tql/functions_registry.hpp:17-35).
    """
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    def _autodetect(f) -> bool:
        import inspect

        import pandas as pd

        try:
            nargs = len([
                p for p in inspect.signature(f).parameters.values()
                if p.kind in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)
            ]) or 1
            probe = pd.Series([0.0, 1.0])
            out = f(*[probe] * nargs)
            return isinstance(out, pd.Series) and len(out) == len(probe)
        except Exception:
            return False

    def deco(f):
        fn_name = (name or f.__name__).upper()
        from deeplake_spark.functions import TQL_FUNCTIONS

        batch = is_batch if is_batch is not None else _autodetect(f)
        udf = F.pandas_udf(f, returnType) if batch else F.udf(f, returnType)
        if dataset is not None:
            # dataset-scoped: never touches the global registries, so a
            # same-named global (or another dataset's function) is
            # shadowed only for queries bound to THIS dataset
            dataset._function_registry()[fn_name] = udf
            return f
        spark = SparkSession.getActiveSession()
        if spark is not None:
            spark.udf.register(fn_name.lower(), udf)
        TQL_FUNCTIONS[fn_name] = udf
        _REGISTERED_FUNCTIONS[fn_name] = f
        return f

    return deco(func) if func is not None else deco


__all__ = [
    "query",
    "parse_query",
    "is_valid",
    "is_filter",
    "query_keywords",
    "register_function",
    "Options",
    "Translator",
    "TQLTranslationError",
]


def query_keywords() -> list[str]:
    """The TQL reserved words, sorted (reference tql::query_keywords,
    cpp/tql/tql.hpp:134-162) — editors/validators use this for
    completion and quoting decisions."""
    from deeplake_spark.tql.lexer import KEYWORDS

    return sorted(KEYWORDS)


def explain(text: str, spark=None, tables=None, default=None, indexes=None, params=None):
    """explain_query for TQL (reference explain_query_result.hpp:10-32):
    parse + translate, return the structured physical-plan report."""
    from deeplake_spark.plans.explain import explain_query

    df = query(text, spark=spark, tables=tables, default=default,
               params=params, indexes=indexes)
    return explain_query(df)


_MAX_PARALLEL_QUERIES = [8]


def set_max_num_parallel_queries(n: int) -> None:
    """tql.set_max_num_parallel_queries (tql.pyi:126): bounds the
    concurrency of async query execution (maps to the executor pool
    used by streaming.feed.query_async; Spark-side fairness comes from
    scheduler pools)."""
    _MAX_PARALLEL_QUERIES[0] = int(n)


def get_max_num_parallel_queries() -> int:
    """tql.get_max_num_parallel_queries (tql.pyi:84)."""
    return _MAX_PARALLEL_QUERIES[0]
