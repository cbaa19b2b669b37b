"""TQL AST → Spark DataFrame translator.

The lowering follows the reference's fixed pipeline (WHERE → EXPAND →
GROUP → UNGROUP → SELECT → SAMPLE → ORDER → LIMIT → set ops;
`cpp/query_core/statement.hpp:86-106`, `cpp/tql/executor.hpp:60-110`)
but emits a declarative DataFrame plan at every step, so Catalyst still
performs pushdown/pruning/join-selection through the whole result.

Dialect lowering highlights (SURVEY §4.3.5):
  - `==`/`=` → Column ==; glob LIKE/ILIKE → anchored rlike
  - `col[0]` / `col[-1]` / `col[a:b:c]` → 0-based element / slice exprs
  - `col['key']` → struct getField / map element_at / JSON
    get_json_object, chosen from the resolved schema
  - TQL GROUP BY packs sequences (collect_list sorted by source order),
    so SUM/AVG/… stay per-cell array reductions before AND after
    grouping — the semantic the reference documents at tql.md:470-472
  - `?` params bound at translate time (prepared statements,
    expr.hpp:106-126); DATA(col, i) prefetched to a literal
    (input.hpp:89-107)
"""

from __future__ import annotations

from typing import Callable, Mapping, NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from deeplake_spark.functions import TQL_FUNCTIONS
from deeplake_spark.functions.arrays import array_slice, element
from deeplake_spark.functions.text import glob_to_rlike
from deeplake_spark.tql import ast
from deeplake_spark.tql.lexer import TQLSyntaxError
from deeplake_spark.tql.parser import parse_query


class TQLTranslationError(ValueError):
    pass


class Options:
    """TQL execution gating knobs — mirrors `tql::options`
    (cpp/tql/options.hpp:7-30) including its named presets. Feature
    flags default to the reference struct's values (everything off);
    `tql.query`/`prepare` with no options behave as
    `Options.allow_everything()`, today's default.

    - `allow_nested_query`: permit subqueries in FROM
    - `allow_selection_list`: permit an explicit SELECT list
      (otherwise only `SELECT *` shapes pass)
    - `allow_group` / `allow_ungroup`: permit GROUP BY / UNGROUP BY
    - `use_index`: when False, translation never routes through
      registered indexes — no CONTAINS/BETWEEN/IN semijoin rewrites,
      no ORDER BY similarity LIMIT k ANN routing; the linear plan is
      produced instead (same rows, different physical plan)
    - `parsing_only`: validate the query text only; `tql.query`
      returns None without translating or touching data
    - `search_config`: per-query SearchConfig for ANN routing
      (overrides the translator-level config when set)
    """

    __slots__ = ("allow_nested_query", "allow_selection_list", "allow_group",
                 "allow_ungroup", "use_index", "parsing_only", "search_config")

    def __init__(self, allow_nested_query: bool = False,
                 allow_selection_list: bool = False,
                 allow_group: bool = False, allow_ungroup: bool = False,
                 use_index: bool = False, parsing_only: bool = False,
                 search_config=None):
        self.allow_nested_query = allow_nested_query
        self.allow_selection_list = allow_selection_list
        self.allow_group = allow_group
        self.allow_ungroup = allow_ungroup
        self.use_index = use_index
        self.parsing_only = parsing_only
        self.search_config = search_config

    # named presets (options.hpp:19-29)
    @staticmethod
    def allow_everything() -> "Options":
        return Options(allow_nested_query=True, allow_selection_list=True,
                       allow_group=True, allow_ungroup=True, use_index=True)

    @staticmethod
    def default_config() -> "Options":
        return Options.allow_everything()

    @staticmethod
    def one_level_filter_only() -> "Options":
        return Options(use_index=True)

    @staticmethod
    def filter_only() -> "Options":
        return Options(allow_nested_query=True, use_index=True)

    @staticmethod
    def linear_only() -> "Options":
        # row-linear transforms: projection + filter, no regrouping
        return Options(allow_nested_query=True, allow_selection_list=True,
                       use_index=True)

    @staticmethod
    def web_environment() -> "Options":
        # untrusted-caller preset: single-level filters, indexes on
        return Options(use_index=True)


#: TQL functions that reduce over EVERY element of an nd array cell —
#: nested inputs are flattened to 1-D before the fold (nd::array
#: whole-tensor reductions, cpp/nd/functions.hpp:39-63)
_ND_REDUCERS = frozenset(
    {"SUM", "AVG", "MEAN", "PROD", "AMIN", "AMAX", "STDEV", "MEDIAN",
     "ANY", "ALL", "ALL_STRICT"}
)


def _conjuncts(where: ast.Node) -> list[ast.Node]:
    """The AND-separated conjuncts of a WHERE tree, left to right."""
    if isinstance(where, ast.BinaryOp) and where.op == "AND":
        return _conjuncts(where.left) + _conjuncts(where.right)
    return [where]


class _Route(NamedTuple):
    """One WHERE conjunct a registered index serves
    (Translator._match_route)."""

    kind: str
    index: object
    id_col: str
    #: estimated fraction of rows the conjunct keeps; None = no stats
    #: (the selectivity gate never declines it)
    est: float | None
    #: corpus rows the corpus floor checks; None for the floor-exempt
    #: CONTAINS and JSON shapes (and for an index without stats)
    corpus: int | None
    #: the semijoin rewrite of a frame
    apply: Callable[[DataFrame], DataFrame]


def _uses_rownum(node) -> bool:
    """True when the AST subtree contains a ROW_NUMBER() call — used to
    precompute it as a partition-offset column before expression
    evaluation (see Translator._with_rownum)."""
    if isinstance(node, ast.FuncCall) and node.name.upper() == "ROW_NUMBER":
        return True
    if isinstance(node, ast.Node):
        children = vars(node).values()
    elif isinstance(node, (list, tuple)):
        children = node
    else:
        return False
    return any(_uses_rownum(c) for c in children)


class Translator:
    def __init__(
        self,
        spark: SparkSession | None = None,
        tables: Mapping[str, DataFrame] | None = None,
        default: DataFrame | None = None,
        params: list | None = None,
        indexes: Mapping[str, tuple] | None = None,
        search_config=None,
        options: Options | None = None,
        functions: Mapping[str, object] | None = None,
    ):
        from deeplake_spark.operators.indexes import require_saved

        self.spark = spark
        self.tables = dict(tables or {})
        self.default = default
        self.params = list(params or [])
        #: per-dataset UDF registry, resolved at bind time BEFORE the
        #: process-global TQL_FUNCTIONS (tql::functions_registry,
        #: cpp/tql/functions_registry.hpp:17-35 — two datasets may
        #: carry conflicting definitions under one name)
        self.functions = {k.upper(): v for k, v in (functions or {}).items()}
        #: execution gates (tql::options) — None means allow_everything
        self.options = options if options is not None else Options.allow_everything()
        if self.options.search_config is not None:
            search_config = self.options.search_config
        #: column name → (kind, index, id_col), kind an INDEX_KINDS
        #: name: enables the §4.3 rewrites (CONTAINS/EQUALS/BETWEEN/IN/
        #: JSON semijoins, ORDER BY score LIMIT k → index probe).
        #: Saved-and-loaded indexes only.
        self.indexes = dict(indexes or {})
        for _, idx, _ in self.indexes.values():
            require_saved(idx)
        #: SearchConfig recall/latency knobs for the ANN fast path
        self.search_config = search_config
        #: FuncCall routed by _try_ann_route whose score is carried as
        #: the __tql_score column (BM25/MAXSIM index-computed scores)
        self._routed_score: ast.FuncCall | None = None

    # ------------------------------------------------------------------ API

    def translate(self, node: ast.Node) -> DataFrame:
        if isinstance(node, ast.SetOp):
            return self._set_op(node)
        if isinstance(node, ast.Select):
            return self._select(node)
        raise TQLTranslationError(f"cannot translate {type(node).__name__}")

    # --------------------------------------------------------------- source

    def _resolve_source(self, src: ast.Node | None) -> DataFrame:
        if src is None:
            if self.default is None:
                raise TQLTranslationError("query has no FROM and no bound dataset")
            return self.default
        if isinstance(src, ast.TableRef):
            df = self._table(src.name)
            return df.alias(src.alias) if src.alias else df
        if isinstance(src, ast.SubQuery):
            if not self.options.allow_nested_query:
                raise TQLTranslationError(
                    "nested query disabled by options.allow_nested_query")
            df = self.translate(src.select)
            return df.alias(src.alias) if src.alias else df
        if isinstance(src, ast.Join):
            left = self._resolve_source(src.left)
            right = self._resolve_source(src.right)
            if src.how == "cross":
                return left.crossJoin(right)
            if src.using:
                return left.join(right, on=src.using, how=src.how)
            if src.on is None:
                raise TQLTranslationError("JOIN requires ON or USING")
            cond = self._expr(src.on, left.join(right, F.lit(True), "cross"))
            return left.join(right, on=cond, how=src.how)
        raise TQLTranslationError(f"unsupported source {type(src).__name__}")

    def _table(self, name: str) -> DataFrame:
        if name in self.tables:
            return self.tables[name]
        if self.spark is not None:
            # FROM "url" cross-source resolution (tql.md:53-55,236-247):
            # parquet paths read directly; bare names go to the catalog
            if "/" in name or name.endswith(".parquet"):
                return self.spark.read.parquet(name)
            return self.spark.table(name)
        raise TQLTranslationError(f"unknown table {name!r}")

    # --------------------------------------------------------------- select

    def _select(self, sel: ast.Select, source_override: DataFrame | None = None) -> DataFrame:
        opts = self.options
        if not opts.allow_group and sel.group is not None:
            raise TQLTranslationError("GROUP BY disabled by options.allow_group")
        if not opts.allow_ungroup and sel.ungroup is not None:
            raise TQLTranslationError("UNGROUP BY disabled by options.allow_ungroup")
        if not opts.allow_selection_list and not (
            len(sel.items) == 1 and isinstance(sel.items[0].expr, ast.Star)
        ):
            raise TQLTranslationError(
                "explicit SELECT list disabled by options.allow_selection_list")
        if source_override is None and opts.use_index \
                and not self._sel_uses_rownum(sel):
            # ROW_NUMBER() is the SOURCE row offset (tql.md:427-431:
            # "zero-based row offset"); an ANN-pruned re-entry would
            # renumber the <=k·af surviving rows — decline the route
            # and keep the exact plan (r15 review)
            routed = self._try_ann_route(sel)
            if routed is not None:
                # re-enter with the index-pruned source: the normal path
                # re-applies WHERE / projection / ORDER / LIMIT over at
                # most k·accuracy_factor rows, keeping semantics exact
                return self._select(sel, source_override=routed)
        df = source_override if source_override is not None else self._resolve_source(sel.source)
        # DATA(col, i) addresses row i of the UNFILTERED source relation
        # actually in scope (the FROM source, or the bound dataset when
        # there is no FROM) — never the filtered/index-pruned df, and
        # never the bound dataset when an explicit FROM shadows it with
        # a same-named column. Save/restore: nested selects must not
        # clobber the outer scope's base.
        prev_base = getattr(self, "_data_base", None)
        self._data_base = (
            self._resolve_source(sel.source) if source_override is not None else df
        )
        try:
            return self._select_body(sel, df)
        finally:
            self._data_base = prev_base

    def _sel_uses_rownum(self, sel: ast.Select) -> bool:
        parts: list = [sel.where, sel.having] + [it.expr for it in sel.items]
        if sel.order:
            parts += [o.expr for o in sel.order]
        if sel.sample is not None:
            parts.append(sel.sample.weight)
        return any(p is not None and _uses_rownum(p) for p in parts)

    def _select_body(self, sel: ast.Select, df: DataFrame) -> DataFrame:
        # ROW_NUMBER() = the zero-based SOURCE row offset (tql.md:427,
        # the reference's own example `SELECT *, ROW_NUMBER() WHERE
        # ROW_NUMBER() < 100` — one numbering, shared): materialize it
        # ONCE over the source before any filter/route so WHERE and the
        # select list read the SAME offsets (r15 review: the old
        # per-stage recompute made `SELECT ROW_NUMBER() WHERE
        # ROW_NUMBER() >= 7` emit rows numbered 0.. — every output row
        # violated the query's own predicate). Restructuring queries
        # (GROUP/UNGROUP/EXPAND) keep per-stage numbering: their row
        # identity changes mid-plan, so "source offset" is undefined.
        if (sel.group is None and sel.ungroup is None
                and sel.expand is None and self._sel_uses_rownum(sel)):
            df = self._with_rownum(df)
        if sel.where is not None:
            df = self._apply_where(sel.where, df)

        if sel.expand is not None:
            df = self._expand(sel.expand, df)

        if sel.group is not None:
            df = self._group(sel.group, df)

        if sel.having is not None:
            had_rn = "__tql_rownum" in df.columns
            if not had_rn and _uses_rownum(sel.having):
                df = self._with_rownum(df)
            df = df.filter(self._expr(sel.having, df))
            if not had_rn:
                df = df.drop("__tql_rownum")

        if sel.ungroup is not None:
            df = self._ungroup(df, sel.ungroup)

        # SAMPLE BY weight may reference source columns that the
        # projection drops — materialize it before projecting (the
        # reference evaluates weight functors over source rows,
        # sample_statement.hpp:15-100)
        if sel.sample is not None:
            if _uses_rownum(sel.sample.weight):
                df = self._with_rownum(df)
            df = df.withColumn("__tql_w", self._expr(sel.sample.weight, df))

        # SELECT list (projection + virtual columns, select_expr.hpp:9-38)
        if any(_uses_rownum(it.expr) for it in sel.items):
            df = self._with_rownum(df)
        cols: list[Column] = []
        for it in sel.items:
            if isinstance(it.expr, ast.Star):
                cols.extend(F.col(c) for c in df.columns if not c.startswith("__tql_"))
                continue
            c = self._expr(it.expr, df)
            name = it.alias or self._auto_name(it.expr)
            cols.append(c.alias(name))
        if sel.sample is not None:
            cols.append(F.col("__tql_w"))
        # routed BM25/MAXSIM score must survive the projection so ORDER
        # BY can reference it (dropped again before returning)
        if "__tql_score" in df.columns:
            cols.append(F.col("__tql_score"))
        # the shared source-offset ROW_NUMBER column likewise survives
        # into ORDER BY (re-materializing over the projected frame
        # would renumber the filtered rows); DISTINCT excludes it — an
        # offset column would make every row unique
        carry_rn = bool(
            "__tql_rownum" in df.columns and not sel.distinct
            and sel.order and any(_uses_rownum(o.expr) for o in sel.order))
        if carry_rn:
            cols.append(F.col("__tql_rownum"))
        projected = df.select(*cols)

        if sel.distinct:
            projected = projected.distinct()

        if sel.sample is not None:
            projected = self._sample(sel.sample, sel.limit, projected).drop("__tql_w")
            sel = ast.Select(items=sel.items, order=sel.order)  # limit consumed

        if sel.order:
            # ROW_NUMBER() in an ORDER BY expression materializes via the
            # partition-offset column too — never the unpartitioned
            # row_number().over(orderBy) single-task sort (CLAUDE.md trap 7)
            had_rn = "__tql_rownum" in projected.columns
            if not had_rn and any(_uses_rownum(o.expr) for o in sel.order):
                projected = self._with_rownum(projected)
            # save/restore (not set/clear): a nested _expr re-entering
            # this path must not clobber the outer scope's fallback
            prev_fb = getattr(self, "_depth_fallback_df", None)
            self._depth_fallback_df = df
            try:
                projected = projected.orderBy(
                    *[
                        self._expr(o.expr, projected).desc() if o.desc else self._expr(o.expr, projected)
                        for o in sel.order
                    ]
                )
            finally:
                self._depth_fallback_df = prev_fb
            if (carry_rn or not had_rn) \
                    and "__tql_rownum" in projected.columns:
                projected = projected.drop("__tql_rownum")

        if sel.limit is not None:
            projected = self._limit(sel.limit, projected)
        if "__tql_score" in projected.columns:
            projected = projected.drop("__tql_score")
        return projected

    def _apply_where(self, where: ast.Node, df: DataFrame) -> DataFrame:
        """WHERE with index fast paths: conjuncts a registered index
        serves (_match_route) become side-table semijoins (the
        reference's index_holder routing, query_core/index_holder.hpp:
        18-43 / SURVEY §4.3.1); everything else stays a Catalyst
        filter."""
        # ROW_NUMBER in WHERE numbers the PRE-ROUTING source: routed
        # semijoins drop rows, and numbering the survivors would
        # diverge from the stock plan (r15 review — the use_index
        # "same rows" contract). Materialize before any rewrite.
        had_rownum_entry = "__tql_rownum" in df.columns
        if not had_rownum_entry and _uses_rownum(where):
            df = self._with_rownum(df)
        residual: list[ast.Node] = []
        for c in _conjuncts(where):
            handled = (
                self._try_index_rewrite(c, df) if self.options.use_index else None
            )
            if handled is not None:
                df = handled
            else:
                residual.append(c)
        if residual:
            pred = residual[0]
            for r in residual[1:]:
                pred = ast.BinaryOp("AND", pred, r)
            df = df.filter(self._expr(pred, df))
        if not had_rownum_entry and "__tql_rownum" in df.columns:
            # only reached on the restructuring paths (GROUP/UNGROUP/
            # EXPAND) — the shared-offset queries materialize the
            # column BEFORE _apply_where and keep it for the later
            # clauses
            df = df.drop("__tql_rownum")
        return df

    def _with_rownum(self, df: DataFrame) -> DataFrame:
        """Materialize ROW_NUMBER() as a `__tql_rownum` column via the
        partition-offset trick (io.with_row_id) instead of an
        unpartitioned `row_number().over(Window.orderBy(...))`, which
        funnels every row through one task at scale. Ordered by
        `_row_id` when the source is a dataset (reference semantics:
        the sample's index — expr.hpp row_number), else stable
        partition order."""
        if "__tql_rownum" in df.columns:
            return df
        from deeplake_spark.io import with_row_id

        order = "_row_id" if "_row_id" in df.columns else None
        return with_row_id(df, order_by=order, col_name="__tql_rownum")

    def _match_route(self, c: ast.Node) -> _Route | None:
        """The one matcher of the WHERE shapes a registered index
        serves (the reference's probe extraction: CONTAINS / EQUALS /
        BETWEEN / IN / JSON-path equality —
        inverted_index_search_info.hpp:19-44,
        duckdb_deeplake_scan.cpp:209-279, index_search.cpp:172-199).
        The route rewrite and the selectivity estimator both read its
        record, so they cannot diverge on which index serves a shape.
        None when the conjunct has no such shape or its column has no
        index of the matching kind."""
        from deeplake_spark.operators.indexes import (
            contains_via_index,
            routed_semijoin,
        )

        lit = ast.Literal
        if (
            isinstance(c, ast.FuncCall)
            and c.name.upper() in ("CONTAINS", "EQUALS")
            and len(c.args) == 2
            and isinstance(c.args[0], ast.ColumnRef)
            and isinstance(c.args[1], lit)
        ):
            col, value = c.args[0].name, c.args[1].value
            shape = "inverted" if c.name.upper() == "CONTAINS" else "exact"
            # EQUALS: string literals only (the index holds text digests)
            if shape == "exact" and not isinstance(value, str):
                return None
        elif (
            isinstance(c, ast.BetweenOp)
            and isinstance(c.operand, ast.ColumnRef)
            and isinstance(c.low, lit)
            and isinstance(c.high, lit)
        ):
            shape, col, value = ("between", c.operand.name,
                                 (c.low.value, c.high.value))
        elif (
            isinstance(c, ast.InOp)
            and not c.negated
            and isinstance(c.operand, ast.ColumnRef)
            and all(isinstance(i, lit) for i in c.items)
        ):
            shape, col, value = ("in", c.operand.name,
                                 [i.value for i in c.items])
        elif (
            isinstance(c, ast.BinaryOp)
            and c.op == "=="
            and isinstance(c.left, ast.Index)
            and isinstance(c.left.operand, ast.ColumnRef)
            and isinstance(c.left.index, lit)
            and isinstance(c.left.index.value, str)
            and isinstance(c.right, lit)
            # STRING literals only (the exact-text gate's rule): the
            # index stores raw JSON strings, but a stock numeric
            # comparison coerces — get_json_object(j,'$.n') == 5.0
            # matches BOTH {"n":5} and {"n":5.0}, while a str(5.0)
            # probe matches only "5.0" (r14 review, confirmed live) —
            # so non-string literals stay on the stock path
            and isinstance(c.right.value, str)
        ):
            shape, col, value = ("json", c.left.operand.name,
                                 (c.left.index.value, c.right.value))
        else:
            return None
        kind = "numeric" if shape in ("between", "in") else shape
        meta = self.indexes.get(col)
        if meta is None or meta[0] != kind:
            return None
        _, idx, id_col = meta

        def semijoin(probe, n_est):
            # probe row-id ranges pushed onto the corpus scan first
            # (row-group skip — the reference's bitmap→chunk reads);
            # the LeftSemi on top keeps the rewrite exact
            return lambda df: routed_semijoin(df, probe(), id_col,
                                              n_rows_est=n_est)

        # the corpus floor guards the CHEAP-stock shapes (an in-place
        # string or double compare): below it the route's fixed costs
        # exceed the whole stock scan — measured 2x routed LOSS for
        # BETWEEN at 5k rows (SCALING.md). Token CONTAINS (stock pays
        # a per-row tokenize) and JSON are exempt.
        if shape == "inverted":
            term = str(value)
            return _Route(kind, idx, id_col, idx.est_selectivity(term), None,
                          lambda df: contains_via_index(df, idx, term,
                                                        id_col=id_col))
        if shape == "exact":
            route = semijoin(lambda: idx.probe(value), idx.n_rows_est)
            # the digest semijoin prunes; re-checking the equality on
            # the surviving handful of rows means an md5 collision can
            # never admit a wrong row (exactness is ~free post-semijoin)
            return _Route(kind, idx, id_col, idx.est_selectivity(value),
                          idx.n_rows_est, lambda df: route(df).filter(
                              F.col(col) == F.lit(value)))
        if shape == "between":
            return _Route(kind, idx, id_col,
                          idx.est_range_selectivity(*value), idx.n_rows,
                          semijoin(lambda: idx.probe_between(*value),
                                   idx.n_rows))
        if shape == "in":
            return _Route(kind, idx, id_col, idx.est_in_selectivity(value),
                          idx.n_rows,
                          semijoin(lambda: idx.probe_in(value), idx.n_rows))
        return _Route(kind, idx, id_col, idx.est_selectivity(*value), None,
                      semijoin(lambda: idx.probe(*value), idx.n_rows_est))

    def _try_index_rewrite(self, c: ast.Node, df: DataFrame) -> DataFrame | None:
        """Route one WHERE conjunct through the index _match_route
        finds for it, unless a cost gate declines: the corpus floor
        (`routing.minCorpusRows`, for the cheap-stock shapes) or the
        selectivity gate (the reference's pg_costestimate,
        index_search.cpp:316-420 — when the index's persisted stats
        estimate the predicate keeps MORE than `routing.maxSelectivity`
        of the rows, the semijoin would shuffle ~the corpus to avoid a
        filter Parquet evaluates in place; no stats never declines).
        Both read the conf of `df`'s session. Returns the semijoined
        DataFrame, or None to leave the conjunct a stock filter."""
        from deeplake_spark.operators.indexes import (
            corpus_floor_ok,
            route_max_selectivity,
        )

        route = self._match_route(c)
        if route is None:
            return None
        spark = df.sparkSession
        if not corpus_floor_ok(spark, route.corpus):
            return None
        if route.est is not None and route.est > route_max_selectivity(spark):
            return None
        return route.apply(df)

    def _estimate_where_selectivity(self, where: ast.Node) -> float | None:
        """Estimated fraction of rows the WHERE keeps, from the index
        stats sidecars of the conjuncts _match_route matches. AND
        semantics: the minimum over conjuncts with a known estimate;
        None when no conjunct is estimable. Feeds the filtered-ANN
        probe widening (the reference runs top_k with a roaring
        prefilter over the FULL index — index_holder.hpp:35-36 — so
        its filtered recall never degrades; we compensate by widening
        eff-nprobe by 1/selectivity)."""
        ests = [r.est for r in map(self._match_route, _conjuncts(where))
                if r is not None and r.est is not None]
        return min(ests, default=None)

    def _filtered_widening_capped(self, idx, cand_sel: float | None) -> bool:
        """True when the filtered-ANN recall compensation for `idx`
        would widen the probe past SearchConfig.max_widen_factor x the
        base cost — the route then declines and the stock exact plan
        (a scan of the tiny filtered set) runs instead. Indexes
        without a coarse stage (flat PQ) never widen."""
        centroids = getattr(idx, "centroids", None)
        if not centroids:
            return False
        from deeplake_spark.operators.similarity import _widening_capped

        return _widening_capped(len(centroids), self.search_config, cand_sel)

    def _topk_ceiling_declines(self, df: DataFrame, idx,
                               fetch: int) -> bool:
        """k ceiling for the APPROXIMATE top-k routes (clustered /
        quantized / pq / pooled; BM25 is exact and exempt) —
        EXPLICIT-CONF-ONLY in the TQL lane. Reference parity: an index
        created via create_index is a declared accuracy/latency
        tradeoff and serves any k, recall governed by the SearchConfig
        presets — so by default TQL routes every LIMIT. The implicit
        plain-SQL rule is different: it rewrites a query the user
        wrote as EXACT, so its ceilings (`routing.ann.maxK`,
        `routing.ann.maxKFrac`) default ON there. When a deployment
        sets either conf on the session, the TQL routes honor it too
        (IVF recall@k decays with k on a fixed-fraction probe —
        SCALING.md decay curve — and one knob should govern every
        lane), declining to the stock exact plan."""
        spark = df.sparkSession
        maxk = spark.conf.get("spark.sql.deeplake.routing.ann.maxK", None)
        frac = spark.conf.get("spark.sql.deeplake.routing.ann.maxKFrac", None)
        if maxk is not None:
            try:
                if fetch > int(maxk):
                    return True
            except ValueError:
                pass
        if frac is not None:
            n = getattr(idx, "n_rows_est", None)
            try:
                f = float(frac)
            except ValueError:
                return False
            if f > 0 and n and fetch > max(1, int(f * n)):
                return True
        return False

    def _vec_literal(self, node: ast.Node) -> list[float] | None:
        """Resolve a query-vector expression to a Python float list
        (index probes need the vector driver-side, like the reference's
        top_k_search_info extraction). Returns None when not constant."""
        if isinstance(node, ast.Param) and node.index < len(self.params):
            v = self.params[node.index]
            if isinstance(v, (list, tuple)):
                return [float(x) for x in v]
            return None
        if isinstance(node, ast.Literal) and isinstance(node.value, (list, tuple)):
            return [float(x) for x in node.value]
        if (
            isinstance(node, ast.FuncCall)
            and node.name.upper() == "ARRAY"
            and all(isinstance(a, ast.Literal) for a in node.args)
        ):
            return [float(a.value) for a in node.args]
        return None

    def _vec_constant(self, node: ast.Node, df: DataFrame) -> list[float] | None:
        """_vec_literal plus DATA(col, i) static prefetch (the
        reference's static_data_t, input.hpp:89-107 — DATA is always a
        translate-time constant, so resolving it here matches the
        SELECT-path semantics)."""
        v = self._vec_literal(node)
        if v is not None:
            return v
        if (
            isinstance(node, ast.FuncCall)
            and node.name.upper() == "DATA"
            and len(node.args) == 2
            and isinstance(node.args[0], ast.ColumnRef)
            and isinstance(node.args[1], ast.Literal)
        ):
            row = (df.select(node.args[0].name)
                   .offset(int(node.args[1].value)).limit(1).head())
            if row is not None and isinstance(row[0], (list, tuple)):
                return [float(x) for x in row[0]]
        return None

    def _matrix_literal(self, node: ast.Node) -> list[list[float]] | None:
        """Resolve a query-matrix expression (nested ARRAY literal or a
        `?` param carrying a list of lists) to Python floats."""
        if isinstance(node, ast.Param) and node.index < len(self.params):
            v = self.params[node.index]
            if (
                isinstance(v, (list, tuple))
                and v
                and all(isinstance(r, (list, tuple)) for r in v)
            ):
                return [[float(x) for x in r] for r in v]
            return None
        if isinstance(node, ast.FuncCall) and node.name.upper() == "ARRAY":
            rows = [self._vec_literal(a) for a in node.args]
            if all(r is not None for r in rows):
                return rows
        return None

    #: score functions ORDER BY <fn> DESC LIMIT k can route through a
    #: persisted index, and the index kinds each one accepts
    _TOPK_ROUTES = {
        "COSINE_SIMILARITY": ("clustered", "clustered_quantized", "pq"),
        "BM25_SIMILARITY": ("inverted",),
        "MAXSIM": ("pooled",),
    }
    #: the cell-probed kinds (ivf_search / pq_search): they also serve
    #: `ORDER BY L2_NORM(col - <vec>) ASC LIMIT k` — k-means cells are
    #: euclidean, so the same cluster prune serves the L2 rerank — and
    #: widen their probe under a WHERE
    _IVF_KINDS = ("clustered", "pq")

    def _try_ann_route(self, sel: ast.Select) -> DataFrame | None:
        """`ORDER BY <score_fn>(col, <query>) DESC LIMIT k` — or the
        distance ordering `ORDER BY L2_NORM(col - <vec>) ASC LIMIT k`
        (tql.md Array Operations) — over the bound dataset with a
        matching registered index → index probe (the reference's top-k
        fast path, cpp/tql/tql.hpp:171 +
        query_core/top_k_search_info.hpp:17-66; BM25/MAXSIM index exec:
        deeplake_pg/index_search.cpp:135-170, nd/norm.hpp:42-56,
        docs tql.md:114-176). WHERE conjuncts become the candidate row
        set handed to the probe (filter+search, index_holder.hpp:30-36)
        — including any text/numeric/JSON index rewrites the WHERE
        itself triggers. The query side is a literal or a `?` param;
        the L2 vector may also be `DATA(col, i)`.

        Returns the index-pruned base relation (row-id semijoin against
        the top-k hits, whose exact scores the normal path recomputes
        on ≤k rows; BM25/MAXSIM instead carry the index-computed score
        as `__tql_score`, resolved by _call so corpus-global stats are
        never recomputed on the pruned subset), or None when the shape
        doesn't match or a gate declines."""
        if (
            sel.source is not None  # indexes describe the bound dataset only
            or sel.group is not None
            or sel.ungroup is not None
            or sel.expand is not None
            or sel.sample is not None
            or sel.having is not None
            or sel.distinct
            or len(sel.order) != 1
            or sel.limit is None
            or sel.limit.percent
        ):
            return None
        o = sel.order[0]
        e = o.expr
        # ORDER BY <alias-of-select-item> also routes
        if isinstance(e, ast.ColumnRef) and e.table is None:
            for it in sel.items:
                if it.alias == e.name:
                    e = it.expr
                    break
        if not isinstance(e, ast.FuncCall):
            return None
        fname = e.name.upper()
        if o.desc and fname in self._TOPK_ROUTES and len(e.args) == 2:
            col_arg, q_arg = e.args
            kinds = self._TOPK_ROUTES[fname]
        elif (
            not o.desc
            and fname == "L2_NORM"
            and len(e.args) == 1
            and isinstance(e.args[0], ast.BinaryOp)
            and e.args[0].op == "-"
        ):
            col_arg, q_arg = e.args[0].left, e.args[0].right
            kinds = self._IVF_KINDS
        else:
            return None
        if not isinstance(col_arg, ast.ColumnRef):
            col_arg, q_arg = q_arg, col_arg  # (vec - col): same distance
        if not isinstance(col_arg, ast.ColumnRef) or col_arg.table is not None:
            return None
        meta = self.indexes.get(col_arg.name)
        if meta is None or meta[0] not in kinds:
            return None
        kind, idx, id_col = meta

        df = self._resolve_source(None)
        if fname == "BM25_SIMILARITY":
            text = (q_arg.value if isinstance(q_arg, ast.Literal)
                    and isinstance(q_arg.value, str)
                    else self._param_str(q_arg))
            query = text.lower().split() if text is not None else None
        elif fname == "MAXSIM":
            query = self._matrix_literal(q_arg)
        elif fname == "L2_NORM":
            query = self._vec_constant(q_arg, df)
        else:
            query = self._vec_literal(q_arg)
        if query is None:
            return None
        fetch = sel.limit.n + (sel.limit.offset or 0)
        if kind != "inverted" and self._topk_ceiling_declines(
                df, idx, fetch):
            return None  # conf'd k ceiling: stock exact instead
        candidates = cand_sel = None
        if sel.where is not None:
            cand_sel = self._estimate_where_selectivity(sel.where)
            if kind in self._IVF_KINDS and \
                    self._filtered_widening_capped(idx, cand_sel):
                return None  # stock exact beats an over-widened probe
            candidates = self._apply_where(sel.where, df).select(id_col)

        from deeplake_spark.operators import similarity

        if fname == "BM25_SIMILARITY":
            from deeplake_spark.operators.indexes import bm25_via_index

            hits = bm25_via_index(
                idx, query, k=fetch,
                candidates=candidates.withColumnRenamed(id_col, "row_id")
                if candidates is not None else None,
            ).select(F.col("row_id").alias(id_col),
                     F.col("bm25").alias("__tql_score"))
        elif fname == "MAXSIM":
            hits = similarity.maxsim_search(
                idx, query, k=fetch, config=self.search_config,
                candidates=candidates).select(
                F.col(idx.id_col).alias(id_col),
                F.col("maxsim_score").alias("__tql_score"),
            )
        else:
            if kind == "clustered_quantized":
                hits = similarity.quantized_index_search(
                    idx, query, k=fetch, config=self.search_config,
                    candidates=candidates.withColumnRenamed(
                        id_col, idx.id_col)
                    if candidates is not None else None)
            else:
                search = (similarity.ivf_search if kind == "clustered"
                          else similarity.pq_search)
                hits = search(idx, query, k=fetch, config=self.search_config,
                              candidates=candidates,
                              metric="cosine" if o.desc else "l2",
                              candidate_selectivity=cand_sel)
            # k rows — always broadcastable; the score is recomputed
            # exactly on ≤k rows by the normal path
            hits = hits.select(F.col(idx.id_col).alias(id_col))
            return self._hits_fetchback(df, hits, id_col, idx,
                                        how="left_semi")
        self._routed_score = e  # _call resolves this exact call shape
        # inner join: ≤k hit rows (broadcastable) carry the index score
        return self._hits_fetchback(df, hits, id_col, idx, how="inner")

    def _hits_fetchback(self, df: DataFrame, hits: DataFrame, id_col: str,
                        idx, how: str) -> DataFrame:
        """Fetch the winners' full rows: `df` joined with the broadcast
        ≤k `hits` of the saved-and-loaded index `idx`. The search runs
        once, here: its ≤k hit rows are collected on the JVM and
        re-enter the plan as a LocalRelation (the rows never pass
        through Python), and their ids — summarized in Python under the
        routed lanes' range gates (collected_id_ranges) — push row-id
        ranges onto the corpus scan, so parquet min/max skip
        essentially the whole corpus (the reference runs the search
        once and reads the winners' chunks, top_k_search_info.hpp:17-66,
        index_holder.hpp:37-40). The executed plan then holds no
        search.

        SNAPSHOT CONTRACT: a top-k holds its hits as data, fixed at
        translation — re-run the query after a commit."""
        from deeplake_spark.operators.indexes import (
            collected_id_ranges,
            ranges_predicate,
        )

        spark = hits.sparkSession
        hits = DataFrame(spark._jsparkSession.createDataFrame(
            hits._jdf.collectAsList(), hits._jdf.schema()), spark)
        if dict(df.dtypes).get(id_col) in ("bigint", "int"):
            ranges = collected_id_ranges(
                spark, [r[0] for r in hits.select(id_col).collect()],
                getattr(idx, "n_rows_est", None)
                or getattr(idx, "n_docs_est", None))
            if ranges:
                df = df.filter(ranges_predicate(id_col, ranges))
        return df.join(F.broadcast(hits), id_col, how)

    def _param_str(self, node: ast.Node) -> str | None:
        if isinstance(node, ast.Param) and node.index < len(self.params):
            v = self.params[node.index]
            return v if isinstance(v, str) else None
        return None

    def _limit(self, lim: ast.Limit, df: DataFrame) -> DataFrame:
        if lim.percent:
            # LIMIT n PERCENT needs the total count (the reference computes
            # it too — percentage_t in sample_statement.hpp:31-39), but as
            # a broadcast 1-row aggregate INSIDE the plan, never a
            # driver-side count job at translate time. Ranking follows the
            # current (already sorted, range-partitioned) partition order
            # via the partition-offset trick — no unpartitioned window.
            from deeplake_spark.io import with_row_id

            out_cols = df.columns
            limrel = df.agg(
                F.ceil(F.count(F.lit(1)) * (lim.n / 100.0)).alias("__tql_lim"))
            ranked = with_row_id(df, col_name="__tql_rn")
            return (
                ranked.crossJoin(F.broadcast(limrel))
                .filter(F.col("__tql_rn") < F.col("__tql_lim"))
                .select(*out_cols)
            )
        out = df.offset(lim.offset) if lim.offset else df
        return out.limit(lim.n)

    # ---------------------------------------------------------- restructure

    def _group(self, g: ast.GroupClause, df: DataFrame) -> DataFrame:
        """TQL GROUP BY = sequence packing (group_statement.hpp), NOT
        aggregation. All non-key columns become ordered arrays keeping
        their original names, so downstream per-cell reductions compose
        (tql.md:470-472)."""
        from deeplake_spark.operators.restructure import group_runs, group_sequences

        keys = []
        for k in g.keys:
            if isinstance(k, ast.ColumnRef) and k.table is None:
                keys.append(k.name)
            else:
                raise TQLTranslationError("GROUP BY supports plain column keys")
        order_col = "_row_id" if "_row_id" in df.columns else "__tql_ord"
        if order_col == "__tql_ord":
            df = df.withColumn("__tql_ord", F.monotonically_increasing_id())
        # _row_id stays addressable as a packed sequence (ROW_NUMBER
        # semantics survive grouping); the synthetic order col does not
        payload = [c for c in df.columns if c not in keys and c != "__tql_ord"]
        if g.across in ("TIME", "SPACE"):
            # ACROSS packs *consecutive* equal-key runs (across_type_t)
            packed = group_runs(df, keys, [order_col], payload)
        else:
            packed = group_sequences(df, keys, [order_col], payload)
        for c in payload:
            packed = packed.drop(c).withColumnRenamed(f"{c}_seq", c)
        return packed.drop("seq_len")

    def _ungroup(self, df: DataFrame,
                 clause: ast.UngroupClause | None = None) -> DataFrame:
        """UNGROUP BY SPLIT zip-explodes EVERY sequence column in step;
        UNGROUP BY <col> explodes only the NAMED sequence column,
        repeating the others per emitted row (r15 review: the `by`
        expression used to be silently ignored — a frame with
        different-length arrays zip-padded nulls into the named column
        instead of exploding it alone). Both use explode_outer + an
        OUTPUT null-filter, not F.explode — trap 2: explode lets
        Catalyst infer `size>0 AND isnotnull` on the generator INPUT
        and push the whole zipped expression (twice) below any
        repartition to the scan; semantics are identical (empty/null
        sequences emit no rows)."""
        from pyspark.sql.types import ArrayType

        seq_cols = [f.name for f in df.schema.fields
                    if isinstance(f.dataType, ArrayType)]
        if clause is not None and not clause.split and clause.by is not None:
            if not isinstance(clause.by, ast.ColumnRef):
                raise TQLTranslationError(
                    "UNGROUP BY expects a sequence column name")
            name = clause.by.name
            if name not in seq_cols:
                raise TQLTranslationError(
                    f"UNGROUP BY {name}: not a sequence column")
            keep = [c for c in df.columns if c != name]
            # null-filter on the POSITION, not the element: a null
            # ELEMENT inside a sequence is a legal row; only the
            # null/empty-sequence marker row drops
            out = df.select(
                *keep,
                F.posexplode_outer(F.col(name)).alias("__p", "__e"))
            return (out.filter(F.col("__p").isNotNull())
                    .withColumnRenamed("__e", name)
                    .select(*df.columns))
        keep = [c for c in df.columns if c not in seq_cols]
        if not seq_cols:
            return df
        zipped = F.arrays_zip(*[F.col(c) for c in seq_cols])
        out = (df.select(*keep, F.explode_outer(zipped).alias("__e"))
               .filter(F.col("__e").isNotNull()))
        for c in seq_cols:
            out = out.withColumn(c, F.col("__e")[c])
        return out.drop("__e")

    def _expand(self, ex: ast.ExpandClause, df: DataFrame) -> DataFrame:
        from pyspark.sql.types import ArrayType

        from deeplake_spark.operators.restructure import expand_tiles

        img_col = None
        for f in df.schema.fields:
            if isinstance(f.dataType, ArrayType) and isinstance(f.dataType.elementType, ArrayType):
                img_col = f.name
                break
        if img_col is None:
            raise TQLTranslationError("EXPAND BY requires a 2-D array column")
        out = expand_tiles(df, img_col, ex.height, ex.width, overlap=ex.overlap)
        if ex.alias:
            out = out.withColumnRenamed("tile", ex.alias)
        return out

    def _sample(self, s: ast.SampleClause, lim: ast.Limit | None,
                projected: DataFrame) -> DataFrame:
        """All variants are count-free: an explicit LIMIT n uses the
        literal; PERCENT and bare SAMPLE BY scale by the row count as a
        broadcast 1-row aggregate inside the plan (no driver count job
        at translate time — the reference's percentage_t computes the
        same product engine-side, sample_statement.hpp:31-39)."""
        from deeplake_spark.operators.sampling import (
            sample_by_weight,
            sample_by_weight_fraction,
            sample_with_replacement,
        )

        w = F.col("__tql_w")
        if s.replace:
            if lim is not None and not lim.percent:
                return sample_with_replacement(projected, w, n=lim.n)
            frac = lim.n / 100.0 if lim is not None else 1.0
            return sample_with_replacement(projected, w, fraction=frac)
        if lim is not None and not lim.percent:
            return sample_by_weight(projected, w, lim.n)
        # PERCENT, or bare SAMPLE BY (= full-size weighted reorder:
        # fraction 1.0 keeps every positive-weight row, A-ES-ranked)
        frac = lim.n / 100.0 if lim is not None else 1.0
        return sample_by_weight_fraction(projected, w, frac)

    # -------------------------------------------------------------- set ops

    def _set_op(self, node: ast.SetOp) -> DataFrame:
        left = self.translate(node.left)
        right = self.translate(node.right)
        if node.op in ("UNION", "UNION ALL"):
            # TQL UNION concatenates compatible views (merged_dataset.hpp:20,
            # schema matched by name — unionByName, no dedup)
            out = left.unionByName(right)
        elif node.op == "INTERSECT":
            out = left.intersect(right)
        else:
            out = left.subtract(right)
        if node.order:
            # ROW_NUMBER() in a set-op ORDER BY materializes via the
            # partition-offset column like every other clause — the
            # bare-expression fallback is an unpartitioned
            # row_number().over(orderBy) single-task sort (trap 7;
            # r15 review)
            had_rn = "__tql_rownum" in out.columns
            if not had_rn and any(_uses_rownum(o.expr) for o in node.order):
                out = self._with_rownum(out)
            out = out.orderBy(
                *[self._expr(o.expr, out).desc() if o.desc else self._expr(o.expr, out) for o in node.order]
            )
            if not had_rn and "__tql_rownum" in out.columns:
                out = out.drop("__tql_rownum")
        if node.limit:
            out = self._limit(node.limit, out)
        return out

    # ---------------------------------------------------------- expressions

    def _auto_name(self, e: ast.Node) -> str:
        if isinstance(e, ast.ColumnRef):
            return e.name
        if isinstance(e, ast.FuncCall):
            return e.name.lower()
        return "expr"

    def _expr(self, e: ast.Node, df: DataFrame) -> Column:
        if isinstance(e, ast.Literal):
            return F.lit(e.value)
        if isinstance(e, ast.Param):
            if e.index >= len(self.params):
                raise TQLTranslationError(f"missing parameter {e.index}")
            v = self.params[e.index]
            if isinstance(v, (list, tuple)):
                return F.array(*[F.lit(x) for x in v])
            return F.lit(v)
        if isinstance(e, ast.ColumnRef):
            return F.col(f"{e.table}.{e.name}") if e.table else F.col(e.name)
        if isinstance(e, ast.UnaryOp):
            t = self._expr(e.operand, df)
            d = self._array_depth(t, df)
            if e.op == "-":
                if d:
                    from deeplake_spark.functions.arrays import map_at_depth

                    return map_at_depth(t, d, lambda x: -x)
                return -t
            if d:
                from deeplake_spark.functions.arrays import map_at_depth

                return map_at_depth(t, d, lambda x: ~x)
            return ~t
        if isinstance(e, ast.BinaryOp):
            l, r = self._expr(e.left, df), self._expr(e.right, df)
            ops = {
                "+": lambda a, b: a + b,
                "-": lambda a, b: a - b,
                "*": lambda a, b: a * b,
                "/": lambda a, b: a / b,
                "%": lambda a, b: a % b,
                "==": lambda a, b: a == b,
                "!=": lambda a, b: a != b,
                "<": lambda a, b: a < b,
                "<=": lambda a, b: a <= b,
                ">": lambda a, b: a > b,
                ">=": lambda a, b: a >= b,
                "AND": lambda a, b: a & b,
                "OR": lambda a, b: a | b,
            }
            op = ops[e.op]
            if e.op not in ("AND", "OR"):
                # nd broadcasting (reference nd::array semantics,
                # tql.md:435-451 `ANY(confidence > 0.9)`,
                # `ALL(pixels < 255)`): scalar-vs-array applies the op
                # per element, array-vs-array combines element-wise —
                # all nested JVM HOFs, resolved from the analyzed dtype
                dl, dr = self._array_depth(l, df), self._array_depth(r, df)
                if dl or dr:
                    from deeplake_spark.functions.arrays import (
                        map_at_depth,
                        zip_at_depth,
                    )

                    if dl == dr:
                        return zip_at_depth(l, r, dl, op)
                    if dr == 0:
                        return map_at_depth(l, dl, lambda x: op(x, r))
                    if dl == 0:
                        return map_at_depth(r, dr, lambda y: op(l, y))
                    raise TQLTranslationError(
                        f"cannot broadcast arrays of different rank ({dl} vs {dr})")
            return op(l, r)
        if isinstance(e, ast.LikeOp):
            # TQL glob LIKE (tql.md:207-228): '*'/'?' → anchored regex
            target = self._expr(e.operand, df)
            rx = glob_to_rlike(e.pattern.lower() if e.case_insensitive else e.pattern)
            out = (F.lower(target) if e.case_insensitive else target).rlike(rx)
            return ~out if e.negated else out
        if isinstance(e, ast.InOp):
            target = self._expr(e.operand, df)
            vals = [self._expr(i, df) for i in e.items]
            out = target.isin(*vals)
            return ~out if e.negated else out
        if isinstance(e, ast.BetweenOp):
            t = self._expr(e.operand, df)
            return t.between(self._expr(e.low, df), self._expr(e.high, df))
        if isinstance(e, ast.IsNullOp):
            t = self._expr(e.operand, df)
            return t.isNotNull() if e.negated else t.isNull()
        if isinstance(e, ast.Index):
            return self._index(e, df)
        if isinstance(e, ast.Slice):
            from deeplake_spark.functions.arrays import map_at_depth

            # defaults are STEP-SIGN dependent (python slice semantics:
            # a[::-1] starts at the END) — resolved inside array_slice,
            # so absent bounds pass through as None (r15 review: a
            # fixed start=0/stop=MAX default made every negative-step
            # slice empty or an illegal-sequence crash)
            sql = self._subscript_sql(e, df)
            if sql is not None:
                # SQL-fragment twin (trap 12): the whole subscript
                # chain as ONE parsed expr — the Column spelling cost
                # ~1,100 py4j round trips per translate (r16 profile;
                # tree/value equality pinned in tests/test_functions.py
                # and the v16/v12 oracles)
                return F.expr(sql)
            start = self._const_int(e.start, None)
            stop = self._const_int(e.stop, None)
            step = self._const_int(e.step, 1)
            arr = self._expr(e.operand, df)
            return map_at_depth(arr, e.depth,
                                lambda a: array_slice(a, start, stop, step))
        if isinstance(e, ast.FuncCall):
            return self._call(e, df)
        if isinstance(e, ast.Star):
            raise TQLTranslationError("* only valid in the select list")
        raise TQLTranslationError(f"unsupported expression {type(e).__name__}")

    def _array_depth(self, col: Column, df: DataFrame) -> int:
        """Array nesting depth of an expression (0 = scalar), resolved
        by driver-side analysis of a one-column projection — no Spark
        job. Unresolvable expressions (e.g. references into an outer
        scope) count as scalar."""
        from pyspark.sql.types import ArrayType

        try:
            t = df.select(col).schema[0].dataType
        except Exception:
            # ORDER BY may reference source columns the projection
            # dropped (Spark's missing-reference resolution handles the
            # actual sort); depth analysis falls back to the
            # pre-projection relation so nd-broadcast still types
            # correctly
            fb = getattr(self, "_depth_fallback_df", None)
            if fb is not None:
                try:
                    t = fb.select(col).schema[0].dataType
                except Exception:
                    return 0
            else:
                return 0
        d = 0
        while isinstance(t, ArrayType):
            t = t.elementType
            d += 1
        return d

    def _const_int(self, n: ast.Node | None,
                   default: int | None) -> int | None:
        if n is None:
            return default
        if isinstance(n, ast.Literal) and isinstance(n.value, int):
            return n.value
        if isinstance(n, ast.UnaryOp) and n.op == "-" and isinstance(n.operand, ast.Literal):
            return -n.operand.value
        if isinstance(n, ast.Param):
            return int(self.params[n.index])
        raise TQLTranslationError("slice bounds must be integer literals")

    def _subscript_sql(self, node: ast.Node, df: DataFrame) -> str | None:
        """SQL fragment for a chain of Slice/Index subscripts over a
        plain ARRAY column — the trap-12 twin gate for the multi-dim
        lowering (the parser emits e.g. Index(Slice(ColumnRef), d=1)
        for boxes[:, 0]). Composes the exact same primitives as the
        Column build (`_array_slice_sql`/`element_sql`/
        `map_at_depth_sql`), so trees and values match; anything it
        cannot prove array-shaped (JSON/map/struct indexing, dynamic
        bounds, non-column bases) returns None and falls back."""
        from pyspark.sql.types import ArrayType

        from deeplake_spark.functions.arrays import (
            _array_slice_sql,
            element_sql,
            map_at_depth_sql,
        )

        if isinstance(node, ast.ColumnRef):
            if node.name in df.columns and isinstance(
                    df.schema[node.name].dataType, ArrayType):
                return "`" + node.name.replace("`", "``") + "`"
            return None
        if isinstance(node, ast.Slice):
            base = self._subscript_sql(node.operand, df)
            if base is None:
                return None
            try:
                start = self._const_int(node.start, None)
                stop = self._const_int(node.stop, None)
                step = self._const_int(node.step, 1)
            except TQLTranslationError:
                return None
            return map_at_depth_sql(
                base, node.depth,
                lambda a: _array_slice_sql(a, start, stop, step))
        if isinstance(node, ast.Index):
            base = self._subscript_sql(node.operand, df)
            if base is None:
                return None
            if isinstance(node.index, ast.Literal) \
                    and isinstance(node.index.value, int):
                i = node.index.value
            elif isinstance(node.index, ast.UnaryOp) and node.index.op == "-" \
                    and isinstance(node.index.operand, ast.Literal) \
                    and isinstance(node.index.operand.value, int):
                i = -node.index.operand.value
            else:
                return None
            return map_at_depth_sql(
                base, node.depth, lambda a: element_sql(a, i))
        return None

    def _index(self, e: ast.Index, df: DataFrame) -> Column:
        from pyspark.sql.types import ArrayType, MapType, StringType, StructType

        if e.depth:
            # inner-dimension subscript of a multi-dim form (boxes[:, 0])
            from deeplake_spark.functions.arrays import map_at_depth

            if isinstance(e.index, ast.Literal) and isinstance(e.index.value, int):
                i = e.index.value
            elif isinstance(e.index, ast.UnaryOp) and e.index.op == "-" \
                    and isinstance(e.index.operand, ast.Literal):
                i = -e.index.operand.value
            else:
                raise TQLTranslationError(
                    "inner-dimension index must be an integer literal")
            sql = self._subscript_sql(e, df)
            if sql is not None:
                # SQL-fragment twin — see the Slice lowering (trap 12)
                return F.expr(sql)
            target = self._expr(e.operand, df)
            return map_at_depth(target, e.depth, lambda a: element(a, i))
        target = self._expr(e.operand, df)
        dtype = None
        if isinstance(e.operand, ast.ColumnRef) and e.operand.name in df.columns:
            dtype = df.schema[e.operand.name].dataType
        if isinstance(e.index, ast.Literal) and isinstance(e.index.value, str):
            key = e.index.value
            if isinstance(dtype, StructType):
                return target.getField(key)
            if isinstance(dtype, MapType):
                return F.element_at(target, F.lit(key))
            if isinstance(dtype, StringType) or dtype is None:
                # JSON dict column (Dict htype → JSON string, tql.md:138-166)
                return F.get_json_object(target, f"$.{key}")
            raise TQLTranslationError(f"cannot string-index {dtype}")
        if isinstance(e.index, ast.Literal) and isinstance(e.index.value, int):
            return element(target, e.index.value)
        if isinstance(e.index, ast.UnaryOp) and e.index.op == "-":
            return element(target, -e.index.operand.value)
        # dynamic index (expr.hpp:271-285): computed idx dispatches on
        # SIGN per row — F.get is 0-based but has no from-end handling,
        # so a computed negative index silently returned NULL while the
        # static literal spelling col[-1] read from the end (r15
        # review; functions/arrays.element documents negative-from-end
        # as the dialect's semantics). try_element_at, not element_at:
        # out-of-range must stay NULL (the F.get convention) under
        # ANSI, same as the non-negative branch.
        idx = self._expr(e.index, df)
        if isinstance(dtype, MapType):
            return F.element_at(target, idx)
        i = idx.cast("int")
        return F.when(i >= 0, F.get(target, i)) \
            .otherwise(F.try_element_at(target, i))

    def _call(self, e: ast.FuncCall, df: DataFrame) -> Column:
        name = e.name.upper()
        if (
            name in ("BM25_SIMILARITY", "MAXSIM")
            and "__tql_score" in df.columns
            and e == self._routed_score
        ):
            # index-routed score (carried by _try_ann_route's hit join):
            # BM25/MAXSIM use corpus-global stats, so the score must come
            # from the index probe, never be recomputed on the pruned rows
            return F.col("__tql_score").cast("double")
        if name == "BM25_SIMILARITY":
            raise TQLTranslationError(
                "BM25_SIMILARITY routes through an inverted index: register one "
                "on the column (Dataset.create_index(col, 'inverted')) and use "
                "ORDER BY BM25_SIMILARITY(col, 'query') DESC LIMIT k"
            )
        if name == "ROW_NUMBER":
            if "__tql_rownum" in df.columns:
                # precomputed by _with_rownum (partition-offset, no
                # unpartitioned window) — the normal path
                return F.col("__tql_rownum").cast("long")
            # fallback for bare expression contexts (ORDER BY / HAVING)
            order = F.col("_row_id") if "_row_id" in df.columns else F.monotonically_increasing_id()
            return (F.row_number().over(Window.orderBy(order)) - 1).cast("long")
        if name == "DATA":
            # DATA(col, i): prefetch another row's cell as a constant
            # (static_data_t, input.hpp:89-107)
            col = e.args[0]
            idx = e.args[1]
            if not isinstance(col, ast.ColumnRef) or not isinstance(idx, ast.Literal):
                raise TQLTranslationError("DATA(column, int) expected")
            # static data addresses the SOURCE dataset's row i
            # (static_data_t over the input, cpp/tql/input.hpp:89-107) —
            # never the filtered/index-pruned relation in scope, whose
            # row offsets differ. The in-scope FROM source (tracked by
            # _select) wins over the bound dataset: a same-named column
            # in both must read from the relation the query names.
            base = getattr(self, "_data_base", None)
            if base is None or col.name not in base.columns:
                base = self.default if (
                    self.default is not None and col.name in self.default.columns
                ) else df
            row = base.select(col.name).offset(int(idx.value)).limit(1).head()
            if row is None:
                raise TQLTranslationError(f"DATA index {idx.value} out of range")
            v = row[0]
            if isinstance(v, (list, tuple)):
                return F.array(*[F.lit(x) for x in v])
            return F.lit(v)
        if name in ("CONTAINS", "EQUALS"):
            from pyspark.sql.types import ArrayType, StringType

            target = self._expr(e.args[0], df)
            needle = self._expr(e.args[1], df)
            dtype = None
            if isinstance(e.args[0], ast.ColumnRef) and e.args[0].name in df.columns:
                dtype = df.schema[e.args[0].name].dataType
            if name == "EQUALS":
                return target == needle
            # dtype only resolves for a bare ColumnRef; a COMPUTED
            # array-valued operand (labels[0] on a nested array) must
            # still dispatch to array membership, not text tokenize
            # (r15 review) — _array_depth analyzes the expression
            if isinstance(dtype, ArrayType) or (
                    dtype is None and self._array_depth(target, df) >= 1):
                return F.array_contains(target, needle)
            # text CONTAINS = token membership (text_search_info::contains)
            from deeplake_spark.functions.text import tokenize

            return F.array_contains(tokenize(target), F.lower(needle))
        if name in ("MAX_WEIGHT", "SUM_WEIGHT"):
            from deeplake_spark.operators.sampling import weight_pair_max, weight_pair_sum

            cases = [
                (self._expr(cond, df), w.value if isinstance(w, ast.Literal) else None)
                for cond, w in e.pairs
            ]
            if any(w is None for _, w in cases):
                raise TQLTranslationError("weight-pair weights must be numeric literals")
            fn = weight_pair_max if name == "MAX_WEIGHT" else weight_pair_sum
            return fn(*cases)
        if name == "COUNT" and e.args and isinstance(e.args[0], ast.Star):
            return F.count(F.lit(1))
        if name in ("MIN", "MAX") and e.args:
            # scalar context: alias AMIN/AMAX on arrays, builtin otherwise
            from pyspark.sql.types import ArrayType

            arg = self._expr(e.args[0], df)
            if isinstance(e.args[0], ast.ColumnRef) and e.args[0].name in df.columns:
                if isinstance(df.schema[e.args[0].name].dataType, ArrayType):
                    return F.array_min(arg) if name == "MIN" else F.array_max(arg)
            return F.least(*[self._expr(a, df) for a in e.args]) if name == "MIN" else F.greatest(
                *[self._expr(a, df) for a in e.args]
            )
        if name in self.functions or name in TQL_FUNCTIONS:
            # dataset-scoped registry wins over the process-global one
            fn = self.functions.get(name, TQL_FUNCTIONS.get(name))
            if name in _ND_REDUCERS and len(e.args) == 2:
                # ANY(cond, axis) / SUM(arr, axis) (tql.md Array Logic
                # signatures): axis 0 reduces down columns (transpose,
                # then per-row fold), axis 1 reduces each inner row —
                # both stay nested JVM HOFs, no explode
                from deeplake_spark.functions.arrays import (
                    map_at_depth,
                    transpose2d,
                )

                arr = self._expr(e.args[0], df)
                axis = self._const_int(e.args[1], 0)
                if self._array_depth(arr, df) != 2:
                    raise TQLTranslationError(
                        f"{name}(x, axis) requires a 2-D array cell")
                if axis == 0:
                    arr = transpose2d(arr)
                elif axis != 1:
                    raise TQLTranslationError("axis must be 0 or 1")
                return map_at_depth(arr, 1, fn)
            args = [self._expr(a, df) for a in e.args]
            if name in _ND_REDUCERS and args:
                # reference reducers fold over EVERY element of an nd
                # array (ALL(pixels < 255) on a 2-D cell): flatten
                # nested arrays to 1-D first
                d = self._array_depth(args[0], df)
                while d > 1:
                    args[0] = F.flatten(args[0])
                    d -= 1
            return fn(*args)
        # registered UDFs / Spark builtins fallback
        try:
            return F.call_function(name.lower(), *[self._expr(a, df) for a in e.args])
        except Exception as exc:  # pragma: no cover
            raise TQLTranslationError(f"unknown function {name}") from exc


# ---------------------------------------------------------------------- API


def tql_query(
    query: str,
    spark: SparkSession | None = None,
    tables: Mapping[str, DataFrame] | None = None,
    default: DataFrame | None = None,
    params: list | None = None,
    indexes: Mapping[str, tuple] | None = None,
    search_config=None,
    options: Options | None = None,
    functions: Mapping[str, object] | None = None,
) -> DataFrame | None:
    """Run a TQL query → DataFrame (ds.query equivalent,
    python/deeplake/__init__.pyi:2438 → tql::query tql.hpp:66-68).

    `options` gates features and index use (tql::options,
    cpp/tql/options.hpp:7-30); with `parsing_only=True` the text is
    parsed/validated and None is returned without translating.
    `functions` is a dataset-scoped UDF registry resolved before the
    global one (cpp/tql/functions_registry.hpp:17-35). `indexes` maps a
    column to (kind, index, id_col) of an index saved and loaded back
    through `indexes.INDEX_KINDS`; an unsaved build raises ValueError."""
    node = parse_query(query)
    if options is not None and options.parsing_only:
        return None
    return Translator(
        spark=spark, tables=tables, default=default, params=params, indexes=indexes,
        search_config=search_config, options=options, functions=functions,
    ).translate(node)


def is_filter(query: str) -> bool:
    """True when the query is a pure row filter over the bound dataset
    (tql::is_filter, cpp/tql/tql.hpp:153-162)."""
    try:
        node = parse_query(query)
    except TQLSyntaxError:
        return False
    if not isinstance(node, ast.Select):
        return False
    only_star = len(node.items) == 1 and isinstance(node.items[0].expr, ast.Star)
    return (
        only_star
        and node.source is None
        and node.group is None
        and node.ungroup is None
        and node.expand is None
        and node.sample is None
        and not node.order
        and node.limit is None
        and not node.distinct
    )
