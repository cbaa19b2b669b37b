"""Index routing for PLAIN ``spark.sql`` users — the Catalyst
SparkSessionExtensions rule (SURVEY §7 Phase-4).

The TQL translator routes CONTAINS / BETWEEN / IN through persisted
side-table indexes (tql/translator.py _try_index_rewrite), matching the
reference where EVERY query consults ``index_holder``
(cpp/query_core/index_holder.hpp:18-43; pg side
cpp/deeplake_pg/index_search.cpp:247-420). Plain ``spark.sql()`` text
bypasses the translator — this module closes that gap with a compiled
Catalyst rule (deeplake_spark/plans/jvm/, prebuilt jar committed next to
the sources; rebuild with tools/build_ext_jar.sh).

Two install paths:

- **Session-build time** (the reference-faithful one)::

      spark = (SparkSession.builder
               .config(map=session_confs())   # jar + extensions class
               .getOrCreate())

  injects the rule into the ANALYZER (resolution stage — the filter
  still sees every column, so the semijoin can key on the row-id
  column before pruning).

- **Already-built session**: :func:`install` appends the same rule to
  ``spark.experimental.extraOptimizations`` (post-pushdown shape; the
  jar must already be on the driver classpath, e.g. via
  ``spark.driver.extraClassPath`` — py4j cannot extend a running JVM's
  classpath).

Either way the rule is double-gated: inert unless
``spark.sql.deeplake.routing.enabled=true`` AND a dataset is registered
— a session carrying the extension behaves stock by default.

Routed shapes (each WHERE conjunct independently; the rewrite is always
EXACT — residual conjuncts stay filtered):

- ``array_contains(split(lower(col), '\\s+'), 'kw')`` on an
  inverted-indexed column → bucket-pruned posting probe semijoin. This
  is the Spark-SQL spelling of TQL's token-level CONTAINS. Spark's
  substring ``contains()`` is deliberately NOT routed: a token posting
  index cannot answer substring semantics.
- comparisons / BETWEEN / IN / ``=`` on a numeric-indexed column →
  range-bucket-pruned value probe semijoin.
- ``col = 'literal'`` on an exact-text-indexed string column →
  digest-prefix-pruned md5 lookup semijoin, with the equality KEPT as
  a residual filter so an md5 collision can never admit a wrong row
  (the TQL EQUALS rewrite has the same residual).
- ``ORDER BY <vector score> [DESC|ASC] LIMIT k`` where the score is
  the documented HOF spelling of dot / cosine / L2 against a literal
  query vector (:func:`dot_sql` / :func:`cosine_sql` /
  :func:`l2_sq_sql` emit it) on a ``clustered`` (IVF) indexed column —
  or a ``pq`` column built with a coarse quantizer (IVFADC: its codes
  table carries the same cluster partitioning; flat PQ stays stock) —
  → the base scan is semijoined against the nprobe nearest k-means
  cell partitions of the cell-partitioned id table and the user's Sort+Limit
  reranks exactly over the pruned candidates — the reference serves
  ``top_k_search_info`` from its index holder for every entry path
  (cpp/query_core/index_holder.hpp:30-36). Recall follows IVF
  semantics, tuned by ``spark.sql.deeplake.routing.ann.nprobe`` /
  ``...ann.accuracyFactor`` (SearchConfig's knobs). ASC (distance)
  orderings route only as ``ASC NULLS LAST``: the ASC default NULLS
  FIRST leads with null-vector rows, which the cluster semijoin
  drops — a row change, not a recall approximation — so the rule
  stays stock there. Set
  ``spark.sql.deeplake.routing.ann.enabled=false`` to keep filter
  routing but force exact top-k scans. LIMITs above
  ``...ann.maxK`` (default 10000) stay exact — a corpus-scale k
  would turn cell pruning into silent row loss, not approximate
  ranking.

  Query vectors are LITERAL arrays: Spark rejects subquery
  expressions inside higher-order functions
  (UNSUPPORTED_SUBQUERY_EXPRESSION_CATEGORY), so a
  ``(SELECT embedding ...)`` query side cannot appear in the score
  spelling at all — fetch the vector first (one 1-row select, the
  same materialization the reference performs before probing) and
  interpolate it via :func:`cosine_sql` & friends. The rule still
  guards an uncorrelated 1-row array subquery should a future Spark
  allow one there.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm",
                   "deeplake-spark-ext.jar")
EXTENSION_CLASS = "io.deeplake.spark.ext.DeeplakeSparkExtensions"
ENABLED_KEY = "spark.sql.deeplake.routing.enabled"
#: selectivity cost gate, shared with the TQL routes (operators/
#: indexes.py): a CONTAINS/BETWEEN/IN predicate whose persisted-stats
#: estimate keeps more than this fraction of rows stays on the stock
#: pushed-down scan filter — semijoining a near-corpus-size probe side
#: shuffles ~the corpus to avoid a filter Parquet evaluates in place
#: (the reference's pg_costestimate, index_search.cpp:316-420).
MAX_SELECTIVITY_KEY = "spark.sql.deeplake.routing.maxSelectivity"
#: corpus-size cost floor, shared with the TQL routes: cheap-stock
#: predicates (numeric BETWEEN/IN/comparison, exact equality) decline
#: the route below this many corpus rows — the stock pushed-down scan
#: wins there (SCALING.md numeric-BETWEEN table; the scan-cost term of
#: the reference's pg_costestimate, index_search.cpp:247-420).
MIN_CORPUS_ROWS_KEY = "spark.sql.deeplake.routing.minCorpusRows"


def session_confs() -> dict[str, str]:
    """Builder confs that load the extension into a NEW session."""
    return {
        "spark.sql.extensions": EXTENSION_CLASS,
        "spark.driver.extraClassPath": JAR,
        "spark.jars": JAR,
    }


def _registry(spark: SparkSession):
    return spark._jvm.io.deeplake.spark.ext.IndexRegistry


def is_available(spark: SparkSession) -> bool:
    """True when the extension classes are on the driver classpath."""
    try:
        _registry(spark).size()
        return True
    except Exception:
        return False


def install(spark: SparkSession) -> None:
    """Attach the routing rule to an already-built session
    (experimental.extraOptimizations; idempotent)."""
    spark._jvm.io.deeplake.spark.ext.RuntimeInstall.install(
        spark._jsparkSession)


def uninstall(spark: SparkSession) -> None:
    spark._jvm.io.deeplake.spark.ext.RuntimeInstall.uninstall(
        spark._jsparkSession)


def enable(spark: SparkSession) -> None:
    spark.conf.set(ENABLED_KEY, "true")


def disable(spark: SparkSession) -> None:
    spark.conf.set(ENABLED_KEY, "false")


def register_path(spark: SparkSession, table_path: str, column: str,
                  kind: str, index_path: str, id_col: str) -> None:
    """Register one index for a parquet table path PREFIX: any scan whose
    root paths ALL fall under `table_path` becomes routable on `column`."""
    if kind not in ("inverted", "numeric", "exact", "clustered", "pq"):
        raise ValueError(f"unsupported routing kind {kind!r}")
    _registry(spark).register(str(table_path), column, kind,
                              str(index_path), id_col)


def clear(spark: SparkSession) -> None:
    _registry(spark).clear()


def register_dataset(ds) -> None:
    """Register every routable persisted index of a Dataset, so plain
    SQL over the dataset's files (``ds.to_df()`` / a temp view of it)
    routes exactly like ``ds.query``. Registration reflects the CURRENT
    index build — the same freshness contract as the translator's
    ``indexes=`` mapping (indexing_mode='automatic' keeps both fresh).
    """
    from deeplake_spark.dataset import _read_refs

    for col, meta in _read_refs(ds.path).get("indexes", {}).items():
        kind = meta["kind"]
        if kind not in ("inverted", "numeric", "exact", "clustered", "pq"):
            continue  # other kinds route via TQL only
        idx_path = os.path.join(ds.path, "_indexes", f"{col}_{kind}")
        register_path(ds.spark, ds.path, col, kind, idx_path,
                      id_col="_row_id")


def _vec_sql(vec) -> str:
    vals = [float(v) for v in vec]
    if any(v != v or v in (float("inf"), float("-inf")) for v in vals):
        # repr() would emit bare `nan`/`inf` tokens, which Spark SQL
        # parses as COLUMN REFERENCES — fail here with a clear message
        # instead of a downstream UNRESOLVED_COLUMN (r14 review)
        raise ValueError(
            "query vector contains non-finite components (NaN/Inf) — "
            "not expressible as a SQL array literal")
    return "array(" + ", ".join(repr(v) for v in vals) + ")"


def _agg_sum(arr_sql: str) -> str:
    return (f"aggregate({arr_sql}, CAST(0.0 AS DOUBLE), "
            "(acc, x) -> acc + x)")


def dot_sql(col: str, vec) -> str:
    """The routable Spark-SQL spelling of DOT(col, vec) — sort DESC.

    This is exactly the HOF tree functions/vector.py dot() builds, so
    the Catalyst rule recognizes both the string and the DSL form."""
    return _agg_sum(f"zip_with(CAST({col} AS ARRAY<DOUBLE>), "
                    f"{_vec_sql(vec)}, (x, y) -> x * y)")


def cosine_sql(col: str, vec) -> str:
    """Routable spelling of COSINE_SIMILARITY(col, vec) — sort DESC.
    The query-side norm is precomputed in Python (a constant), so the
    denominator stays ZipWith-free as the rule requires."""
    qn = sum(float(v) * float(v) for v in vec) ** 0.5
    norm_col = f"sqrt({_agg_sum(f'transform(CAST({col} AS ARRAY<DOUBLE>), x -> x * x)')})"
    return (f"({dot_sql(col, vec)} / "
            f"nullif({norm_col} * {qn!r}, 0.0))")


def l2_sq_sql(col: str, vec) -> str:
    """Routable spelling of squared L2 distance — sort ``ASC NULLS
    LAST`` (wrap in sqrt() for the true distance; the rule unwraps
    monotone sqrt). The bare ASC default is NULLS FIRST, which would
    put null-vector rows at the head of the exact result — rows the
    cluster semijoin necessarily drops — so the rule stays stock
    there; spell the null ordering explicitly to route."""
    return _agg_sum(f"zip_with(CAST({col} AS ARRAY<DOUBLE>), "
                    f"{_vec_sql(vec)}, (x, y) -> (x - y) * (x - y))")


def _terms_sql(terms) -> tuple[str, str]:
    """(bucket-prune predicate, IN-list) for a term probe. The bucket
    comparison is a constant-foldable Spark expression, so Catalyst
    folds it before planning and the partition prune actually fires
    (the same trick the index probes rely on)."""
    uniq = list(dict.fromkeys(t.lower() for t in terms))
    # Spark's default string-literal parser treats backslash as an
    # escape char (escapedStringLiterals=false): escape it FIRST, then
    # double quotes — otherwise a term like "path\to" silently parses
    # as "path<tab>o" and the SQL statement diverges from
    # bm25_via_index, which passes terms as literals.
    esc = [t.replace("\\", "\\\\").replace("'", "''") for t in uniq]
    buckets = ", ".join(f"abs(hash('{t}')) % 64" for t in esc)
    inlist = ", ".join(f"'{t}'" for t in esc)
    return f"bucket IN ({buckets})", inlist


def bm25_cte_sql(view: str, terms, n: int,
                 k1: float = 1.2, b: float = 0.75) -> str:
    """WITH-body CTEs computing index-backed BM25 top-n as `__bl
    (doc_id, bm25)` — pure SQL over the ``{view}__postings`` /
    ``__doclens`` / ``__stats`` side views ``Dataset.as_sql_view``
    registers. Mirrors operators/indexes.py bm25_via_index term for
    term (partition-pruned probe, global IDF, per-doc sum, round 6),
    so work is O(matching postings), never O(corpus)."""
    bucket_pred, inlist = _terms_sql(terms)
    return f"""
    __tfp AS (
      SELECT term, row_id, tf FROM {view}__postings
      WHERE ({bucket_pred}) AND term IN ({inlist})
    ),
    __dfq AS (SELECT term, COUNT(*) AS df FROM __tfp GROUP BY term),
    __idf AS (
      SELECT term, ln((s.n_docs - df + 0.5) / (df + 0.5) + 1.0) AS idf
      FROM __dfq CROSS JOIN {view}__stats s
    ),
    __bl AS (
      SELECT __tfp.row_id AS doc_id,
             ROUND(SUM(__idf.idf * (__tfp.tf * ({k1} + 1))
                   / (__tfp.tf + {k1} * (1 - {b} + {b} * __dl.dl / s.avgdl))),
                   6) AS bm25
      FROM __tfp
      JOIN __idf ON __idf.term = __tfp.term
      JOIN {view}__doclens __dl ON __dl.row_id = __tfp.row_id
      CROSS JOIN {view}__stats s
      GROUP BY __tfp.row_id
      ORDER BY bm25 DESC, doc_id LIMIT {int(n)}
    )"""


def _term_probe_ranges(spark: SparkSession, view: str, terms):
    """Coalesced [lo, hi] row-id ranges of the term probe, or None
    (no ``{view}__granules`` view / non-integral ids / probe too
    scattered / pruning off). One bounded, memoized job over the
    bucket-pruned build-time granule rows — the same plan-time protocol
    as the routed-filter lanes (operators/indexes.py
    routed_scan_ranges)."""
    from pyspark.errors import AnalysisException

    from deeplake_spark.operators.indexes import (
        _term_hit,
        routed_scan_ranges,
    )

    try:
        granules = spark.table(f"{view}__granules")
    except AnalysisException:
        return None
    # single source of truth for the bucket-pruned term filter
    # (indexes._term_hit) — a copy here would desync if the save-time
    # bucket count/hash ever changed (r14 review)
    bounds = _term_hit(granules, list(dict.fromkeys(
        t.lower() for t in terms))).select("lo", "hi")
    if dict(bounds.dtypes)["lo"] not in ("bigint", "int"):
        return None
    return routed_scan_ranges(bounds, None)


def _coverage_gated(spark: SparkSession, ranges, view: str):
    """Drop ranges that span ~the corpus (nothing for parquet stats to
    skip; the per-row OR would be pure overhead) — the routed lanes'
    own coverage gate (indexes._coverage_gate). Corpus size from the
    ``{view}__stats`` view, which register_index_views registers with
    the granules the ranges came from."""
    from deeplake_spark.operators.indexes import _coverage_gate

    if not ranges:
        return None
    return _coverage_gate(
        ranges, spark.table(f"{view}__stats").head()["n_docs"])


def _fetchback_clause(view: str, fetch_cols, id_col: str,
                      ranges) -> tuple[str, str]:
    """(projection list, corpus-side subquery) for a winners→corpus
    fetch-back join. With `ranges`, the subquery carries a LITERAL
    BETWEEN-OR id prefilter that parquet row-group min/max stats
    evaluate at the scan (the reference's bitmap→chunk reads,
    index_holder.hpp:37-40) — the join on top keeps rows exact, the
    ranges are pure I/O pruning."""
    cols = ", ".join(f"__c.`{c}` AS `{c}`" for c in fetch_cols)
    where = ""
    if ranges:
        ors = " OR ".join(f"(`{id_col}` BETWEEN {int(lo)} AND {int(hi)})"
                          for lo, hi in ranges)
        where = f" WHERE {ors}"
    return cols, f"(SELECT * FROM {view}{where}) __c"


def bm25_topk_sql(view: str, terms, k: int = 10,
                  k1: float = 1.2, b: float = 0.75, *,
                  fetch_cols=None, id_col: str = "doc_id",
                  spark: SparkSession | None = None) -> str:
    """Complete statement: index-backed BM25 top-k for plain
    ``spark.sql`` users — `(doc_id, score)`, the t13/t08 shape.

    `fetch_cols` additionally joins the winners back to ``{view}`` and
    projects those corpus columns (+ `score`) — the result-
    materialization step the reference serves with chunk-granular
    bitmap reads (index_holder.hpp:37-40). With `spark` given, the
    fetch-back corpus scan is prefiltered to the TERM PROBE's
    coalesced row-id ranges, computed at statement-build time from the
    ``{view}__granules`` view (one bounded, memoized job — the same
    plan-time protocol as the routed-filter lanes): every BM25
    winner matches ≥1 query term, so winners ⊆ probe ids and the
    ranges are a sound superset; parquet row-group stats then skip the
    corpus payload I/O outside them on the id-sorted ingest layout.

    SNAPSHOT CONTRACT: the pushed ranges reflect the index/corpus AT
    STATEMENT-BUILD TIME — the same planning-snapshot semantics as the
    TQL routes (a bitmap fetched at query start). After a delta append
    or re-registering the views, REBUILD the statement; running a
    stale string keeps returning the old snapshot's fetch-back rows."""
    head = f"WITH {bm25_cte_sql(view, terms, k, k1, b)}"
    if not fetch_cols:
        return (f"{head} SELECT doc_id, bm25 AS score FROM __bl "
                f"ORDER BY score DESC, doc_id LIMIT {int(k)}")
    ranges = None
    if spark is not None:
        ranges = _coverage_gated(
            spark, _term_probe_ranges(spark, view, terms), view)
    cols, corpus = _fetchback_clause(view, fetch_cols, id_col, ranges)
    return (f"{head} SELECT {cols}, __bl.bm25 AS score "
            f"FROM __bl JOIN {corpus} ON __c.`{id_col}` = __bl.doc_id "
            f"ORDER BY score DESC, __bl.doc_id LIMIT {int(k)}")


def _ann_route_possible(spark: SparkSession, view: str) -> bool:
    """True when a clustered/pq registration covers the view's files,
    i.e. the built statement's ``__vl`` top-n lane could be ANN-routed
    (approximate) AT EXECUTION on this JVM. Then the build-time EXACT
    mirror's ranges are not a sound superset of the executed winners —
    a routed top-n admits probed-cell rows the exact top-n excludes,
    and the frozen BETWEEN prefilter would silently drop those fused
    winners at the fetch-back join. Fail closed (True) if the registry
    is non-empty but can't be inspected."""
    try:
        if not is_available(spark) or _registry(spark).isEmpty():
            return False
        # the file list stays on the JVM: listing it into Python and
        # back costs two Py4J round trips per file
        jvm = spark._jvm
        files = jvm.scala.jdk.javaapi.CollectionConverters.asJava(
            jvm.scala.Predef.genericWrapArray(
                spark.table(view)._jdf.inputFiles()))
        kinds = _registry(spark).kindsForPaths(files)
        # rsplit: the protocol is "column=kind" and a column NAME may
        # itself contain '=' — a LEFT split would misread the kind and
        # under-detect ANN coverage (unsound prefilter push, r15 review)
        return any(k.rsplit("=", 1)[-1] in ("clustered", "pq")
                   for k in kinds.split(",") if k)
    except Exception:
        return True


def _hybrid_fetch_ranges(spark: SparkSession, view: str, terms,
                         cos_sql: str, id_col: str, n: int):
    """Sound fetch-back ranges for the hybrid statement: fused winners
    ⊆ (BM25 term-probe ids ∪ vector top-n ids), so push the coalesced
    UNION of both sides' granule summaries — or None when either side
    can't be bounded (missing views / non-integral ids / scattered /
    pruning off), since a one-sided prefilter would drop the other
    lane's winners. The vector side executes its top-n once at build
    time (memoized by plan content in the routed lanes' range cache);
    a failing mirror raises, as the statement itself would.

    Declines entirely (None — no prefilter) when an ANN registration
    covers the view: execution could route ``__vl`` approximate, and
    approximate winners need not fall inside the exact mirror's ranges
    (the BM25 term-probe side alone is unsound for vector-lane
    winners). test_sql_fetchback_execute_routed pins the parity."""
    from deeplake_spark.operators.indexes import (
        coalesce_id_ranges,
        granule_bounds,
        routed_scan_ranges,
    )

    if _ann_route_possible(spark, view):
        return None
    probe_rs = _term_probe_ranges(spark, view, terms)
    if not probe_rs:
        return None
    # EXACT mirror of the statement's __vl lane (same rounding and
    # tiebreak) — a different ordering could admit a different
    # boundary row at rank n, and that row's id must be in-range.
    # The mirror must run UNROUTED: with the Catalyst rule enabled
    # on the build session, the ANN route would make it an
    # APPROXIMATE top-n whose misses the statement's exact lane
    # (e.g. on a plain no-jar session) later finds — outside the
    # frozen ranges, silently dropped. Disable routing for the
    # mirror and restore.
    prev = spark.conf.get(ENABLED_KEY, None)
    spark.conf.set(ENABLED_KEY, "false")
    try:
        hits = spark.sql(
            f"SELECT `{id_col}` AS row_id, ROUND({cos_sql}, 6) "
            f"AS cos FROM {view} "
            f"ORDER BY cos DESC, row_id LIMIT {int(n)}"
        ).select("row_id")
        if dict(hits.dtypes).get("row_id") not in ("bigint", "int"):
            return None
        vec_rs = routed_scan_ranges(granule_bounds(hits), None)
    finally:
        if prev is None:
            spark.conf.unset(ENABLED_KEY)
        else:
            spark.conf.set(ENABLED_KEY, prev)
    if not vec_rs:
        return None
    return _coverage_gated(
        spark, coalesce_id_ranges(probe_rs + vec_rs), view)


def hybrid_search_sql(view: str, terms, vec, *, k: int = 10,
                      n: int | None = None, vec_col: str = "embedding",
                      id_col: str = "_row_id", text_weight: float = 0.5,
                      vec_weight: float = 0.5, k1: float = 1.2,
                      b: float = 0.75, fetch_cols=None,
                      spark: SparkSession | None = None) -> str:
    """Complete statement: vector+BM25 softmax fusion for plain
    ``spark.sql`` users — the reference's hybrid merge
    (cpp/query_core/hybrid_query_merge.hpp:27-149) without the Python
    API. Top-n each side (n = k * accuracy_factor by default),
    softmax-normalize each bounded list via 1-row aggregate CTEs (never
    a corpus-wide window), weighted sum over the union, top-k. The
    BM25 side probes the ``{view}__*`` index views; the vector side is
    an exact TakeOrderedAndProject — with a clustered index registered
    it additionally ANN-routes through the Catalyst rule.

    `fetch_cols` joins the fused winners back to ``{view}`` and
    projects those corpus columns (+ `fused`). With `spark` given, the
    fetch-back corpus scan is prefiltered to LITERAL row-id ranges
    computed at statement-build time: fused winners ⊆ (BM25 term-probe
    ids ∪ vector top-n ids), so the pushed ranges are the coalesced
    UNION of the term probe's granule summary and the vector lane's
    top-n ids — the vector lane runs ONCE at build time (one corpus
    job, memoized in the routed lanes' range cache, so re-building the
    same statement is free; the statement itself re-runs that lane at
    query time anyway; the mirror runs with routing DISABLED so an
    enabled ANN route can't make it approximate). Either side
    unavailable (no views, scattered probe, pruning conf off) → no
    prefilter, plain join; likewise when a clustered/pq registration
    covers the view, the builder declines the prefilter ENTIRELY —
    EXECUTION could ANN-route the ``__vl`` lane, and approximate
    winners need not fall inside the exact mirror's frozen ranges
    (test_sql_fetchback_execute_routed pins the parity). When ranges
    ARE pushed, the emitted ``__vl`` score is additionally
    ROUTE-PROOFED (``- 0.0 * abs(id)`` — value-identical, but not a
    spelling the ANN matcher accepts), so an index registered AFTER
    the build, or a different jar-equipped session running the
    returned string, cannot make the lane approximate out from under
    its frozen ranges. SNAPSHOT
    CONTRACT: ranges reflect the
    index/corpus at statement-build time (TQL planning-snapshot
    semantics) — rebuild the statement after a delta append or a
    view re-registration, and after changing the statement's
    accuracy confs."""
    n = int(n if n is not None else k * 5)
    cos = cosine_sql(vec_col, vec)
    vl_score = f"ROUND({cos}, 6)"
    fetch_head = fetch_tail = ""
    if fetch_cols:
        ranges = None
        if spark is not None:
            ranges = _hybrid_fetch_ranges(spark, view, terms, cos,
                                          id_col, n)
        if ranges is not None:
            # Route-proofing (r14 review): pushed ranges are sound only
            # if the __vl lane stays EXACT forever — but the build-time
            # ANN-registry check can't see an index registered AFTER
            # the build, or a different jar-equipped session running
            # the returned string. `- 0.0 * abs(id)` is value-identical
            # INCLUDING the sign of zero: x - (+0.0) keeps -0.0 where
            # `+ 0.0` normalizes it (r14 advice #3; abs() keeps the
            # multiplier +0.0 even for negative ids). Spark's ROUND
            # itself returns +0.0 for tiny negatives, but the emitted
            # string is engine-portable SQL and e.g. DuckDB's ROUND
            # keeps -0.0 (both measured, tests pin the spelling) — the
            # proof term must be a no-op for EVERY double. It is yet
            # not a spelling the Catalyst ANN matcher accepts (it
            # unwraps +/- CONSTANTS only, and 0.0*col never constant-
            # folds), so the lane can never be made approximate out
            # from under its frozen ranges.
            vl_score = f"ROUND({cos}, 6) - 0.0 * abs(`{id_col}`)"
        cols, corpus = _fetchback_clause(view, fetch_cols, id_col, ranges)
        fetch_head = "__f AS ("
        fetch_tail = f"""
    )
    SELECT {cols}, __f.fused AS fused
    FROM __f JOIN {corpus} ON __c.`{id_col}` = __f.doc_id
    ORDER BY fused DESC, __f.doc_id LIMIT {int(k)}"""
    return f"""
    WITH {bm25_cte_sql(view, terms, n, k1, b)},
    __vl AS (
      SELECT {id_col} AS doc_id, {vl_score} AS cos FROM {view}
      ORDER BY cos DESC, doc_id LIMIT {n}
    ),
    __bn AS (SELECT MAX(bm25) AS mb FROM __bl),
    __bs AS (SELECT SUM(exp(bm25 - mb)) AS sb FROM __bl CROSS JOIN __bn),
    __bw AS (SELECT doc_id, exp(bm25 - mb) / sb AS wb
             FROM __bl CROSS JOIN __bn CROSS JOIN __bs),
    __vn AS (SELECT MAX(cos) AS mc FROM __vl),
    __vs AS (SELECT SUM(exp(cos - mc)) AS sc FROM __vl CROSS JOIN __vn),
    __vw AS (SELECT doc_id, exp(cos - mc) / sc AS wc
             FROM __vl CROSS JOIN __vn CROSS JOIN __vs)
    {"," if fetch_head else ""}{fetch_head}
    SELECT COALESCE(__bw.doc_id, __vw.doc_id) AS doc_id,
           ROUND({float(text_weight)} * COALESCE(wb, 0.0)
                 + {float(vec_weight)} * COALESCE(wc, 0.0), 9) AS fused
    FROM __bw FULL OUTER JOIN __vw ON __bw.doc_id = __vw.doc_id
    ORDER BY fused DESC, doc_id LIMIT {int(k)}{fetch_tail}"""


def register_index_views(spark: SparkSession, view: str,
                         index_path: str) -> None:
    """Register an inverted index's side tables as ``{view}__postings``
    / ``__doclens`` / ``__stats`` temp views (stats pre-merged across
    delta appends, the InvertedIndex.load contract) so
    :func:`bm25_topk_sql` / :func:`hybrid_search_sql` statements run on
    a plain session — no jar, no Python operators in the query path.
    ``{view}__granules`` carries the build-time granule rows their
    fetch-back ranges summarize."""
    from deeplake_spark.operators.indexes import InvertedIndex

    # load through InvertedIndex.load so the delta-stats merge has ONE
    # source of truth (a copy of the weighted-avgdl aggregate here
    # would silently diverge from the Python lane's BM25 if the merge
    # ever changed — r14 review)
    idx = InvertedIndex.load(spark, index_path)
    idx.postings.createOrReplaceTempView(f"{view}__postings")
    idx.doclens.createOrReplaceTempView(f"{view}__doclens")
    idx.stats.createOrReplaceTempView(f"{view}__stats")
    idx.granules.createOrReplaceTempView(f"{view}__granules")
