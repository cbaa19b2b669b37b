"""Index-backed search: batch-built side tables + query rewrites —
the custom zone SURVEY §4.3 calls out (no Catalyst analog).

Reference model: per-column schema-level indexes (TextIndex Inverted/
BM25/Exact, NumericIndex, JsonIndex, EmbeddingIndex —
python/deeplake/types.pyi:128-248) maintained by the engine and probed
by the query planner (`query_core/index_holder.hpp:18-43`, pg probe
`deeplake_pg/duckdb_deeplake_scan.cpp:209-279`, BM25
`index_search.cpp:135-170`).

Spark design: every index is a parquet side table keyed by row id,
built by a batch job and registered next to the dataset. Probes are
broadcast semijoins on row_id — the roaring-bitmap row set of the
reference becomes a row_id relation that Catalyst can push around.
At scale the posting table is partitioned by term bucket, so a probe
reads a handful of partitions (the bitmap fetch), never the corpus.

IndexingMode (Always/Off — __init__.pyi:2885-2926) maps to whether
writes refresh the side table; refresh is an idempotent rebuild job.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from deeplake_spark import memo
from deeplake_spark.functions.text import tokenize
from deeplake_spark.io import ensure_parallelism
from deeplake_spark.operators import multimodal as _mm
from deeplake_spark.operators import similarity as _sim

_BM25_K1 = 1.2
_BM25_B = 0.75

# ------------------------------------------------- routing cost gate
#
# The reference disables an index when it would lose to a scan
# (cpp/deeplake_pg/index_search.cpp:316-420 pg_costestimate returns
# max-cost to force a seqscan; stats injected from
# column_statistics.cpp:278-356). Here: indexes persist cheap
# selectivity stats at build time (heavy-term df for inverted,
# per-bucket counts for numeric) and every route consults them —
# a predicate whose estimated selectivity exceeds the conf below
# stays on the stock pushed-down scan filter, because semijoining a
# near-corpus-size probe side shuffles ~the corpus to avoid a filter
# Parquet evaluates in place (measured at sf0.1: a 77%-df term's
# routed plan is 1.6x SLOWER than the stock scan, and the gap grows
# with data).

MAX_SELECTIVITY_KEY = "spark.sql.deeplake.routing.maxSelectivity"
DEFAULT_MAX_SELECTIVITY = 0.1

# Corpus-size cost floor (the second term of the reference's cost
# model — pg_costestimate compares index cost against the SCAN cost,
# index_search.cpp:247-420; selectivity alone is only half of it): on
# a small corpus the stock pushed-down scan finishes before the routed
# lane's probe + semijoin + one-off plan-time range-summary job even
# start paying off. Measured (SCALING.md numeric-BETWEEN table, 5k-row
# x1 corpus): routed 0.111 s vs stock 0.056 s, plus a 0.411 s first-
# plan job — a 2x steady-state loss; break-even ~x32 (160k rows),
# clear win at x128 (640k rows, 1.9x). The floor applies ONLY to
# routes whose stock alternative is a cheap per-row compare the
# parquet reader evaluates in place (numeric BETWEEN/IN/comparison,
# exact digest equality): declining those below the floor keeps the
# measured-loss regime stock. Tokenize-class predicates (CONTAINS) and
# JSON path probes are EXEMPT — their stock scan pays a per-row
# tokenize/JSON-parse that grows with corpus CPU, so routed is within
# noise at x1 and wins 3-7x from x32 up (gate table). Corpus
# size comes from the same persisted manifest meta the selectivity gate
# reads; unknown (no stats) fails open, like the selectivity gate.
MIN_CORPUS_ROWS_KEY = "spark.sql.deeplake.routing.minCorpusRows"
DEFAULT_MIN_CORPUS_ROWS = 200_000

# ------------------------------------------- probe → row-group pruning
#
# The reference's index probes return roaring bitmaps that convert to
# CHUNK-granular reads — the corpus is never fully scanned
# (cpp/icm/roaring.hpp; cpp/query_core/index_holder.hpp:37-40). The
# Spark analog: at route time, read the (partition-pruned) probe's
# per-granule row-id min/max — prebuilt in the inverted index's
# granule table, one aggregate over any other probe — coalesce them
# into a bounded set of [lo, hi] ranges, and push them as a LITERAL
# `id BETWEEN`-OR filter under the semijoin — parquet row-group/page
# min/max stats then skip the corpus I/O wholesale when the ingest
# layout is row-id-sorted (ingest writes it that way; see
# plans/layout.py). The semijoin stays on top, so the ranges are pure
# I/O pruning, never a correctness surface. Planning-snapshot
# semantics: ranges reflect the index at plan time, exactly like the
# reference's bitmap fetched at query start — re-plan after a delta
# append to see new rows.

#: row-id granule of the range summary (the "chunk size" of the
#: bitmap→range conversion): each probe becomes at most one [lo, hi]
#: per granule, so the ranges skip row groups at this resolution.
#: Aligned with the ingest row-group target.
RANGE_GRANULE = 65536
#: max coalesced ranges in the pushed filter (a 100 TB probe may hit
#: thousands of granules; the filter stays bounded by merging the
#: nearest-gap ranges — a superset, still sound).
MAX_RANGES = 64
#: ranges are skipped when they cover more than this fraction of the
#: corpus (nothing to skip; the per-row OR would be pure overhead).
MAX_RANGE_COVERAGE = 0.8
#: probes hitting more granules than this bail out of range pruning
#: (bounds the plan-time collect; such probes cannot prune anyway).
_RANGE_CHUNK_CAP = 4096

#: the kill switch for layouts that are not row-id-sorted, where
#: parquet stats cannot serve the pushed ranges
RANGE_PRUNE_KEY = "spark.sql.deeplake.routing.rangePrune"


def coalesce_id_ranges(bounds: list[tuple[int, int]],
                       max_ranges: int = MAX_RANGES
                       ) -> list[tuple[int, int]]:
    """Merge overlapping/adjacent [lo, hi] id ranges, then — if still
    more than `max_ranges` — keep the `max_ranges - 1` LARGEST gaps as
    splits and merge across the rest (minimizes the extra id-space the
    bounded range set admits). Pure driver-side math over <= the
    granule-row cap inputs."""
    if not bounds:
        return []
    merged: list[list[int]] = []
    for lo, hi in sorted(bounds):
        if merged and lo <= merged[-1][1] + 1:
            merged[-1][1] = max(merged[-1][1], hi)
        else:
            merged.append([lo, hi])
    if len(merged) > max_ranges:
        gaps = sorted(
            ((merged[i + 1][0] - merged[i][1], i)
             for i in range(len(merged) - 1)),
            reverse=True,
        )[: max_ranges - 1]
        splits = sorted(i for _, i in gaps)
        out = []
        start = 0
        for i in splits:
            out.append([merged[start][0], merged[i][1]])
            start = i + 1
        out.append([merged[start][0], merged[-1][1]])
        merged = out
    return [(lo, hi) for lo, hi in merged]


def granule_bounds(ids: DataFrame) -> DataFrame:
    """(lo, hi) per RANGE_GRANULE block of a `row_id` relation — the
    bitmap→chunk-list conversion of a probe whose index keeps no
    granule table (numeric, exact, json, rerank candidates)."""
    return ids.groupBy(F.expr(f"row_id div {RANGE_GRANULE}")).agg(
        F.min("row_id").alias("lo"), F.max("row_id").alias("hi"))


def _range_prune_on(spark) -> bool:
    """The kill switch, enabled iff "true" (case-insensitive) — the JVM
    rule parses the same way, so it can't half-work across lanes."""
    return spark.conf.get(RANGE_PRUNE_KEY, "true").strip().lower() == "true"


def _coverage_gate(ranges: list[tuple[int, int]] | None,
                   n_rows_est: int | None) -> list[tuple[int, int]] | None:
    """`ranges`, or None when empty or spanning ~the corpus (nothing for
    parquet stats to skip; the per-row OR would be pure overhead).
    Unknown corpus size keeps them."""
    if not ranges:
        return None
    if n_rows_est and sum(hi - lo + 1 for lo, hi in ranges) \
            >= MAX_RANGE_COVERAGE * n_rows_est:
        return None
    return ranges


def summary_ranges(bounds: DataFrame) -> list[tuple[int, int]] | None:
    """Coalesced ranges of a (lo, hi) relation whose rows each bound
    the probe ids of one granule: the inverted index's build-time
    granule rows, or `granule_bounds` of any other probe. One bounded
    job over the already partition-pruned relation; None when it holds
    more than _RANGE_CHUNK_CAP rows (too scattered to prune)."""
    rows = bounds.select("lo", "hi").limit(_RANGE_CHUNK_CAP + 1).collect()
    if len(rows) > _RANGE_CHUNK_CAP:
        return None
    return coalesce_id_ranges([(int(lo), int(hi)) for lo, hi in rows])


def routed_scan_ranges(bounds: DataFrame, n_rows_est: int | None
                       ) -> list[tuple[int, int]] | None:
    """[lo, hi] row-id ranges for the corpus scan filter from a probe's
    (lo, hi) granule rows (`summary_ranges`), or None when pruning is
    off / too scattered / covers ~everything. A granule row is a sound
    bound whatever granule it was built at, so the rows of every build
    and append delta summarize alike."""
    if not _range_prune_on(bounds.sparkSession):
        return None
    # content key (memo.plan_key): a hit serving ANOTHER probe's ranges
    # would EXCLUDE true candidate rows from the corpus scan — wrong
    # results, not just a bad plan
    return _coverage_gate(
        memo.RANGE_CACHE.get(memo.plan_key(bounds),
                             lambda: summary_ranges(bounds)),
        n_rows_est)


def collected_id_ranges(spark, ids: list[int], n_rows_est: int | None
                        ) -> list[tuple[int, int]] | None:
    """`routed_scan_ranges` for row ids already on the driver (a
    top-k's collected hits): the same gates and coalescing, with the
    granule min/max summary done in Python — no job, no memo."""
    if not _range_prune_on(spark):
        return None
    chunks: dict[int, tuple[int, int]] = {}
    for i in ids:
        g = i // RANGE_GRANULE
        lo, hi = chunks.get(g, (i, i))
        chunks[g] = (min(lo, i), max(hi, i))
    return _coverage_gate(coalesce_id_ranges(list(chunks.values())),
                          n_rows_est)


def ranges_predicate(id_col: str, ranges: list[tuple[int, int]]) -> Column:
    """One F.expr OR-of-BETWEEN string (CLAUDE.md trap 12: a 64-range
    predicate built Column-by-Column costs ~128 py4j round trips)."""
    body = " OR ".join(
        f"(`{id_col}` BETWEEN {int(lo)} AND {int(hi)})" for lo, hi in ranges)
    return F.expr(body)


def prune_scan_to_ids(df: DataFrame, ids: DataFrame, id_col: str,
                      n_rows_est: int | None = None,
                      ids_col: str | None = None,
                      granules: DataFrame | None = None) -> DataFrame:
    """`df` with the probe's row-id ranges pushed as a scan filter —
    THE shared prune block for every lazily routed lane (filter
    semijoins, ANN rerank scans), so the dtype gate, kill-switch/
    scatter/coverage gates (routed_scan_ranges) and predicate spelling
    live in exactly one place. The caller's join on top keeps results
    exact: ranges are always a superset of the probe ids. `ids_col`
    names the id column in `ids` (default: its first column);
    `granules` is the probe's (lo, hi) granule rows when its index
    keeps them (default: `granule_bounds` of the ids)."""
    if dict(df.dtypes).get(id_col) in ("bigint", "int"):
        if granules is None:
            c = ids_col or ids.columns[0]
            granules = granule_bounds(
                ids.select(F.col(c).alias("row_id"))
                if c != "row_id" or len(ids.columns) > 1 else ids)
        ranges = routed_scan_ranges(granules, n_rows_est)
        if ranges:
            df = df.filter(ranges_predicate(id_col, ranges))
    return df


def routed_semijoin(df: DataFrame, ids: DataFrame, id_col: str,
                    n_rows_est: int | None = None,
                    granules: DataFrame | None = None) -> DataFrame:
    """The routed-filter shape: corpus LeftSemi probe — with the probe's
    row-id ranges pushed onto the corpus scan first, so parquet min/max
    stats skip row groups outside them (the reference's chunk-granular
    index read). `ids` is the probe of a saved-and-loaded index, whose
    lineage is a pruned side-table scan, cheap to summarize at plan
    time. `granules`: the probe's build-time (lo, hi) granule rows,
    when its index keeps them (prune_scan_to_ids)."""
    df = prune_scan_to_ids(df, ids, id_col, n_rows_est,
                           ids_col="row_id", granules=granules)
    return df.join(ids.withColumnRenamed("row_id", id_col), id_col,
                   "left_semi")

#: build-time heavy-hitter floor: terms with df >= n/64 (~1.6%) are
#: recorded in the index's manifest meta. Any term ABSENT from it
#: therefore has selectivity < 1/64 — below any sane gate threshold —
#: so unknown terms always route. The floor must stay <= the gate
#: default for that invariant to hold.
_HEAVY_FRAC = 1.0 / 64
_HEAVY_CAP = 8192


def route_max_selectivity(spark) -> float:
    """Gate threshold from the session conf (malformed → default)."""
    try:
        return float(spark.conf.get(MAX_SELECTIVITY_KEY,
                                    str(DEFAULT_MAX_SELECTIVITY)))
    except Exception:
        return DEFAULT_MAX_SELECTIVITY


def corpus_floor_ok(spark, n_rows: int | None) -> bool:
    """Corpus-size cost floor for CHEAP-stock routes (see the
    MIN_CORPUS_ROWS_KEY comment): True = big enough to route. Unknown
    size (no stats) fails open — same convention as the
    selectivity gate."""
    if not n_rows:
        return True
    try:
        floor = int(spark.conf.get(MIN_CORPUS_ROWS_KEY,
                                   str(DEFAULT_MIN_CORPUS_ROWS)))
    except Exception:
        floor = DEFAULT_MIN_CORPUS_ROWS
    return n_rows >= floor


def _heavy_map(counts: DataFrame, n: int, old: dict | None) -> dict:
    """The heavy-hitter stats algorithm shared by every gated index
    (inverted terms, exact digests, json path-values): record df for
    every key with df >= _HEAVY_FRAC * n (bounded by a _HEAVY_CAP
    top-by-df cut that RAISES the recorded floor so absent keys keep a
    sound upper bound); on delta merge, sum dfs — and a key already
    heavy in the OLD map contributes its EXACT delta df even below the
    delta's own floor, so repeated appends cannot erode a frequent
    key's estimate under the gate (round-8 advice). `counts` must have
    columns (key, df). Returns {"n_docs", "floor_frac", "heavy"}."""
    import math

    thr = max(1, int(math.ceil(n * _HEAVY_FRAC)))
    old_heavy = (old or {}).get("heavy", {})
    rows = (
        counts.filter(F.col("df") >= thr)
        .orderBy(F.desc("df"), "key")
        .limit(_HEAVY_CAP + 1)
        .collect()
    )
    heavy = {r["key"]: int(r["df"]) for r in rows}
    floor = _HEAVY_FRAC
    if len(heavy) > _HEAVY_CAP:
        kept = sorted(heavy.items(),
                      key=lambda kv: (-kv[1], kv[0]))[:_HEAVY_CAP]
        heavy = dict(kept)
        floor = max(floor, min(heavy.values()) / max(n, 1))
    if old is not None:
        # old-heavy keys' delta dfs are collected SEPARATELY (bounded by
        # the old map's own cap) so the top-by-df cut above can never
        # truncate them — the exact-merge guarantee survives a delta
        # with more than _HEAVY_CAP heavy keys of its own
        missing = [t for t in old_heavy if t not in heavy]
        sub = ({r["key"]: int(r["df"]) for r in
                counts.filter(F.col("key").isin(missing)).collect()}
               if missing else {})
        for t, df in old_heavy.items():
            heavy[t] = heavy.get(t, sub.get(t, 0)) + int(df)
        n += int(old.get("n_docs", 0))
        floor = max(floor, float(old.get("floor_frac", _HEAVY_FRAC)))
        if len(heavy) > _HEAVY_CAP:
            kept = sorted(heavy.items(),
                          key=lambda kv: (-kv[1], kv[0]))[:_HEAVY_CAP]
            heavy = dict(kept)
            floor = max(floor, min(heavy.values()) / max(n, 1))
    return {"n_docs": n, "floor_frac": floor, "heavy": heavy}


def _stats_meta(meta: dict) -> dict:
    """The heavy-hitter stats of a manifest's meta (_heavy_map's
    payload), typed for the index classes."""
    return {
        "n_rows_est": int(meta.get("n_docs", 0)) or None,
        "floor_frac": float(meta.get("floor_frac", _HEAVY_FRAC)),
        "heavy": {k: int(v) for k, v in meta.get("heavy", {}).items()},
    }


def require_saved(index) -> None:
    """Raise unless `index` was read back from its saved side tables.
    Probes read persisted side tables only — the reference builds its
    indexes at ingest and probes what it saved (PAPER.md §1.2) — and a
    `build_*` result holds no frame `memo.side_table` read. The one
    check that tells a saved index from an unsaved build."""
    if not any(v in memo.SIDE_TABLES for v in vars(index).values()):
        raise ValueError(
            f"{type(index).__name__} is an unsaved build: indexes are "
            "probed only after a save and a load — call "
            "INDEX_KINDS[kind].save(index, path) and probe "
            "INDEX_KINDS[kind].load(spark, path, source)")


# ----------------------------------------------------------- inverted (text)


@dataclass
class InvertedIndex:
    """Posting side table: (term, row_id [, tf]) + corpus stats row.

    `postings` is term-bucketed on write so a probe prunes partitions
    (types.pyi TextIndex Inverted; probe semantics
    inverted_index_search_info.hpp:19-44)."""

    postings: DataFrame  # term, row_id, tf
    stats: DataFrame  # n_docs, avgdl
    doclens: DataFrame  # row_id, dl
    #: routing-gate stats (manifest meta): heavy-term df map + corpus
    #: size. None on an unsaved build — est_selectivity then returns
    #: None and routes stay ungated.
    heavy: dict | None = None
    n_docs_est: int | None = None
    floor_frac: float = _HEAVY_FRAC
    #: build-time per-(term, RANGE_GRANULE block) row-id min/max side
    #: table (g, lo, hi + bucket partition), written by save() — the
    #: plan-time range summary reads THIS instead of the posting rows
    #: (VERDICT r15 #8). Set by load(); None only on an unsaved build,
    #: which no probe accepts (require_saved).
    granules: DataFrame | None = None
    #: (n_docs, avgdl) of the merged `stats` row, collected once per
    #: stats-table content at load so BM25 probes take them as
    #: literals. None on a build until it is saved and loaded.
    corpus: tuple[int, float | None] | None = None

    def est_selectivity(self, term: str) -> float | None:
        """Estimated df(term)/n from the persisted heavy-term map;
        terms absent from the map are guaranteed rarer than
        `floor_frac` (the build-time recording floor), which is the
        returned upper bound. None = no stats (never gate)."""
        if not self.n_docs_est:
            return None
        df = (self.heavy or {}).get(term.lower())
        if df is None:
            return min(1.0, self.floor_frac)
        return min(1.0, df / self.n_docs_est)

    def probe(self, terms: list[str], mode: str = "any") -> DataFrame:
        """terms → row_id relation (the roaring bitmap analog).
        mode='any' (OR) unions postings; mode='all' (AND) intersects
        via group-count."""
        require_saved(self)
        # dedupe AFTER lowercasing: the AND count below compares the
        # DISTINCT matched-term count, so duplicate or case-variant
        # inputs (['Cat','cat']) must collapse to one required term or
        # the intersection is wrongly empty (r14 review)
        uniq = sorted({t.lower() for t in terms})
        hit = _term_hit(self.postings, uniq)
        if len(uniq) == 1:
            # postings are unique per (term, row_id) by construction
            # (build groupBy) — a distinct here would add a shuffle
            # that costs more than the whole bucket-pruned scan
            return hit.select("row_id")
        if mode == "any":
            return hit.select("row_id").distinct()
        return (
            hit.select("term", "row_id")
            .distinct()
            .groupBy("row_id")
            .agg(F.count(F.lit(1)).alias("__nt"))
            .filter(F.col("__nt") == len(uniq))
            .select("row_id")
        )

    def probe_granules(self, terms: list[str]) -> DataFrame:
        """Build-time (lo, hi) granule rows for `terms`' UNION probe
        (bucket-pruned like the posting probe). The union is exact for
        mode='any' / single-term probes and a sound SUPERSET for 'all'
        (ranges are only ever a scan prefilter under an exact join)."""
        uniq = sorted({t.lower() for t in terms})
        return _term_hit(self.granules, uniq).select("lo", "hi")

    def save(self, path: str, mode: str = "overwrite") -> None:
        """Write the side tables; the manifest meta carries the routing
        stats. mode="append" is delta maintenance: this (delta-built)
        index's tables are listed next to the existing ones —
        union-on-read, prior files untouched (reference IndexingMode
        automatic, __init__.pyi:2885-2926). Stats accumulate one row
        per delta; load() merges them."""
        # A build's frames share one corpus-tokenize lineage, and the
        # actions below would each re-run it (r14 review: ~5 full
        # corpus passes per ingest). Persist the two corpus-sized
        # frames for the duration of the save — one lineage fill each
        # — and release before returning.
        self.postings.persist()
        self.doclens.persist()
        bucket = F.abs(F.hash("term")) % 64
        try:
            # bucket the term dimension: probes prune to matching
            # partitions. Range-repartition on (bucket, term) BEFORE
            # the partitionBy write: a partitionBy write emits one
            # file per (task, bucket), and the persist above pins the
            # upstream at shuffle-partition width (32 tasks × buckets
            # = 672 tiny files; AQE no longer coalesces a cached
            # plan) — measured +0.3 s on EVERY later probe (t13
            # 0.88 → 1.2 s warm, r15 worktree bisect). The range
            # shuffle gives each task a contiguous (bucket, term)
            # slice, so each bucket directory receives ~1 file here
            # and files ∝ shuffle partitions at 100 TB — prunable
            # AND parallel at any scale.
            write_side_table(path, {
                # Build-time granule summary (VERDICT r15 #8): one
                # (g, lo, hi) row per (term, RANGE_GRANULE block),
                # bucketed like the postings so probes prune the
                # same way. The plan-time range summary then reads
                # O(granules) pre-reduced rows instead of O(df)
                # posting rows (routed_scan_ranges). Every
                # manifest lists granules and postings together, so
                # its granule table covers its postings.
                "granules": (
                    self.postings
                    .groupBy("term", F.expr(
                        f"row_id div {RANGE_GRANULE}").alias("g"))
                    .agg(F.min("row_id").alias("lo"),
                         F.max("row_id").alias("hi"))
                    .withColumn("bucket", bucket)
                    .repartitionByRange("bucket", "term"), "bucket"),
                "postings": (self.postings.withColumn("bucket", bucket)
                             .repartitionByRange("bucket", "term"),
                             "bucket"),
                "stats": (self.stats, None),
                # range-repartitioned like the postings: written at
                # the upstream's width it left a file per task
                "doclens": (self.doclens.repartitionByRange("row_id"),
                            None),
            }, lambda old, staged: self._termstats(old), mode)
        finally:
            self.postings.unpersist()
            self.doclens.unpersist()

    def _termstats(self, old: dict | None) -> dict:
        """The routing-gate stats: df for every HEAVY term
        (df >= floor_frac * n) + corpus size — the stats the reference
        injects into its cost hook (column_statistics.cpp:278-356).
        Bounded: heavy terms number at most avgdl/floor_frac, and a
        _HEAVY_CAP top-by-df cut raises the recorded floor so unknown
        terms keep a sound upper bound. On delta append (`old` = the
        base's stats) the maps merge by summing, and a term already
        heavy in the OLD map gets its EXACT delta df (probed below the
        delta's own floor) so repeated appends cannot erode a frequent
        term's estimate below the gate; a term absent from BOTH maps
        has df < floor*n_i in each segment, hence < max(floor)*n
        overall — the bound survives."""
        srow = self.stats.agg(
            F.sum("n_docs").cast("long").alias("n")).head()
        n = int(srow["n"] or 0)
        counts = self.postings.groupBy(
            F.col("term").alias("key")).agg(F.count(F.lit(1)).alias("df"))
        return _heavy_map(counts, n, old)

    @classmethod
    def load(cls, spark: SparkSession, path: str,
             source: DataFrame | None = None) -> "InvertedIndex":
        # stats may hold one row per appended delta: merge with a
        # doc-count-weighted average (tiny relation — rows == deltas)
        stats = memo.side_table(spark, path, "stats").agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            (F.sum(F.col("n_docs") * F.col("avgdl")) / F.sum("n_docs")).alias("avgdl"),
        )
        # one small job per manifest: a delta append lands a new one
        corpus = memo.side_table_value(
            spark, path, "corpus", lambda: tuple(stats.head()))
        ts = _stats_meta(memo.manifest(path)[1]["meta"])
        return cls(
            # keep `bucket`: probes prune the term-hash partition with it
            # (_term_hit) — dropping it here made every probe scan all 64
            # posting partitions
            postings=memo.side_table(spark, path, "postings"),
            stats=stats,
            doclens=memo.side_table(spark, path, "doclens"),
            heavy=ts["heavy"],
            n_docs_est=ts["n_rows_est"],
            floor_frac=ts["floor_frac"],
            granules=memo.side_table(spark, path, "granules"),
            corpus=corpus,
        )


def _term_hit(postings: DataFrame, terms: list[str]) -> DataFrame:
    """Posting (or granule) rows for `terms`, PARTITION-PRUNED on their
    save-time term-hash bucket: the probe filters on
    `bucket == abs(hash('term')) % 64` — Catalyst constant-folds the
    literal hash, so the parquet scan reads only the matching term
    buckets (|terms| of 64 partitions) instead of every posting file."""
    pred = None
    for t in terms:
        c = F.col("bucket") == (F.abs(F.hash(F.lit(t))) % 64)
        pred = c if pred is None else (pred | c)
    if pred is not None:
        postings = postings.filter(pred)
    return postings.filter(F.col("term").isin(terms))


def build_inverted_index(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id") -> InvertedIndex:
    """Batch index build: tokenize once, term-frequency postings +
    document lengths + corpus stats (serves Inverted AND BM25 probes —
    the reference builds them from the same scan)."""
    toks = (
        ensure_parallelism(df)
        .select(F.col(id_col).alias("row_id"), tokenize(f"`{text_col}`").alias("__toks"))
    )
    doclens = toks.select("row_id", F.size("__toks").alias("dl"))
    # explode_outer + OUTPUT null-filter: a plain explode lets Catalyst
    # infer `size(__toks) > 0` on the generator input and push it — with
    # the tokenize inlined — into the scan (CLAUDE.md trap 2)
    postings = (
        toks.select("row_id", F.explode_outer("__toks").alias("term"))
        .filter(F.col("term").isNotNull())
        .groupBy("term", "row_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    stats = doclens.agg(F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl"))
    return InvertedIndex(postings=postings, stats=stats, doclens=doclens)


def contains_via_index(df: DataFrame, index: InvertedIndex, term: str,
                       id_col: str = "doc_id") -> DataFrame:
    """CONTAINS(col,'kw') rewritten to an index probe: the probe's
    row-id ranges are pushed onto the corpus scan (row-group skip, the
    reference's bitmap→chunk reads, icm/roaring.hpp) and the posting
    row_ids semijoined — no corpus tokenize at query time (the
    is_filter fast path, tql.hpp:153). `index` is a saved-and-loaded
    index (require_saved)."""
    ids = index.probe([term])
    return routed_semijoin(df, ids, id_col, n_rows_est=index.n_docs_est,
                           granules=index.probe_granules([term]))


def bm25_via_index(index: InvertedIndex, terms: list[str], k: int = 10,
                   k1: float = _BM25_K1, b: float = _BM25_B,
                   candidates: DataFrame | None = None) -> DataFrame:
    """ORDER BY BM25_SIMILARITY LIMIT k from the prebuilt index: probe
    the query terms' postings (partition-pruned), score, top-k. Work is
    O(matching postings), never O(corpus).

    `candidates` (a row_id relation) restricts which documents are
    scored (the reference's filter+search, index_holder.hpp:30-36) —
    IDF/corpus stats stay GLOBAL, matching search-then-filter scores.
    `index` is a saved-and-loaded index (require_saved): it supplies
    them as literals (`InvertedIndex.corpus`)."""
    require_saved(index)
    n_docs = F.lit(index.corpus[0]).cast("long")
    avgdl = F.lit(index.corpus[1]).cast("double")
    tf = _term_hit(index.postings, [t.lower() for t in terms])
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if candidates is not None:
        cand = candidates.toDF("row_id") if candidates.columns != ["row_id"] else candidates
        tf = tf.join(cand, "row_id", "left_semi")
    idf = df_.select(
        "term",
        F.log((n_docs - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0).alias("idf"),
    )
    return (
        tf.join(F.broadcast(idf), "term")
        .join(index.doclens, "row_id")
        .select(
            "row_id",
            (
                F.col("idf") * (F.col("tf") * (k1 + 1))
                / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / avgdl))
            ).alias("s"),
        )
        .groupBy("row_id")
        .agg(F.round(F.sum("s"), 6).alias("bm25"))
        .orderBy(F.desc("bm25"), "row_id")
        .limit(k)
    )


def softmax_fuse(lists: list, k: int = 10,
                 id_col: str = "row_id") -> DataFrame:
    """Fuse top-N score lists by softmax-normalized weighted sum — the
    reference's hybrid merge (cpp/query_core/hybrid_query_merge.hpp:
    27-149), which always fuses two bounded RESULT lists, never
    corpus-wide relations.

    `lists` is [(df, score_col, weight), ...]; each df carries
    (id_col, score_col) and is already LIMIT-bounded (N = k *
    accuracy_factor rows), so the unpartitioned softmax windows run
    over corpus-independent inputs. Returns (id_col, fused) top-k with
    a deterministic id tiebreak."""
    from pyspark.sql import Window

    _all = Window.partitionBy()
    fused = None
    weights = []
    for i, (lst, score, weight) in enumerate(lists):
        ex = F.exp(F.col(score) - F.max(score).over(_all))
        wcol = f"__w{i}"
        weights.append((wcol, weight))
        part = lst.select(id_col, (ex / F.sum(ex).over(_all)).alias(wcol))
        fused = part if fused is None else fused.join(part, id_col,
                                                      "full_outer")
    total = None
    for wcol, weight in weights:
        term = float(weight) * F.coalesce(F.col(wcol), F.lit(0.0))
        total = term if total is None else total + term
    return (
        fused.select(id_col, F.round(total, 9).alias("fused"))
        .orderBy(F.desc("fused"), id_col)
        .limit(k)
    )


# ----------------------------------------------------------------- numeric


_NUM_BUCKETS = 64


@dataclass
class NumericIndex:
    """NumericIndex(Inverted) (types.pyi:180-200): value → row_ids with
    RANGE buckets as the partition column — BETWEEN/IN probes filter the
    bucket range first, so parquet partition pruning actually fires (the
    zone-map analog made physical). Bucket bounds (vmin/width) persist
    in the manifest meta; delta appends reuse them (values outside the
    original range clamp to the edge buckets — the value filter keeps
    probes exact)."""

    values: DataFrame  # value, row_id [, bucket]
    vmin: float | None = None
    width: float | None = None
    #: routing-gate stats (manifest meta): per-bucket row counts + total —
    #: the 64-cell histogram the range/IN gate estimates from (the
    #: zone-map twin of the reference's planner stats injection,
    #: column_statistics.cpp:278-356). None on an unsaved build.
    bucket_counts: dict | None = None
    n_rows: int | None = None

    def _bucket_of(self, v) -> int:
        if self.vmin is None or not self.width:
            return 0
        return max(0, min(_NUM_BUCKETS - 1, int((float(v) - self.vmin) / self.width)))

    def est_range_selectivity(self, lo, hi) -> float | None:
        """Fraction of rows in the buckets overlapping [lo, hi]; an
        upper bound at bucket resolution. None = no stats (never
        gate)."""
        if not self.n_rows or self.bucket_counts is None:
            return None
        blo = 0 if lo is None else self._bucket_of(lo)
        bhi = _NUM_BUCKETS - 1 if hi is None else self._bucket_of(hi)
        tot = sum(int(c) for b, c in self.bucket_counts.items()
                  if blo <= int(b) <= bhi)
        return min(1.0, tot / self.n_rows)

    def est_in_selectivity(self, items) -> float | None:
        if not self.n_rows or self.bucket_counts is None:
            return None
        buckets = {self._bucket_of(v) for v in items}
        tot = sum(int(self.bucket_counts.get(str(b), 0)) for b in buckets)
        return min(1.0, tot / self.n_rows)

    def probe_between(self, lo, hi) -> DataFrame:
        require_saved(self)
        out = self.values
        if self.vmin is not None:
            out = out.filter(
                F.col("bucket").between(self._bucket_of(lo), self._bucket_of(hi)))
        # no distinct: one (value, row_id) row per corpus row, and the
        # LeftSemi consumer needs no dedup — the shuffle is pure cost
        return out.filter(F.col("value").between(lo, hi)).select("row_id")

    def probe_in(self, items: list) -> DataFrame:
        require_saved(self)
        out = self.values
        if self.vmin is not None:
            out = out.filter(
                F.col("bucket").isin(sorted({self._bucket_of(v) for v in items})))
        return out.filter(F.col("value").isin(items)).select("row_id")

    def save(self, path: str, mode: str = "overwrite") -> None:
        """Write the range-bucketed values; the manifest meta carries
        the bucket bounds + histogram. mode="append" is a delta append
        with the EXISTING bucket bounds — prior files untouched; the
        histogram merges by summing per-bucket counts."""
        found = memo.manifest(path) if mode == "append" else None
        if found:
            meta = dict(found[1]["meta"])
        else:
            bounds = self.values.agg(
                F.min(F.col("value").cast("double")).alias("lo"),
                F.max(F.col("value").cast("double")).alias("hi"),
            ).head()
            vmin = float(bounds["lo"]) if bounds["lo"] is not None else 0.0
            vmax = float(bounds["hi"]) if bounds["hi"] is not None else vmin
            meta = {"vmin": vmin, "width": (vmax - vmin) / _NUM_BUCKETS or 1.0,
                    "bucket_counts": {}, "n": 0}
        bucket = F.greatest(
            F.lit(0),
            F.least(
                F.lit(_NUM_BUCKETS - 1),
                F.floor((F.col("value").cast("double") - meta["vmin"])
                        / meta["width"]).cast("int"),
            ),
        )

        def histogram(old, staged):
            # per-bucket row counts with the same bucket expression the
            # writer partitions by — ≤64 rows collected, build-time only
            rows = (self.values.groupBy(bucket.alias("b"))
                    .agg(F.count(F.lit(1)).alias("c")).collect())
            counts = dict(meta["bucket_counts"])
            for r in rows:
                b = str(int(r["b"]))
                counts[b] = int(counts.get(b, 0)) + int(r["c"])
            return {**meta, "bucket_counts": counts, "n": int(meta["n"])
                    + sum(int(r["c"]) for r in rows)}

        # range-repartition before the partitionBy write (the
        # InvertedIndex.save layout rule): ~1 file per bucket dir at
        # small scale, files proportional to shuffle partitions at
        # 100 TB
        write_side_table(path, {"values": (
            self.values.withColumn("bucket", bucket)
            .repartitionByRange("bucket", "value"), "bucket")},
            histogram, mode)

    @classmethod
    def load(cls, spark: SparkSession, path: str,
             source: DataFrame | None = None) -> "NumericIndex":
        values, meta = read_side_table(spark, path, "values")
        return cls(values=values, vmin=meta["vmin"], width=meta["width"],
                   bucket_counts=meta["bucket_counts"],
                   n_rows=int(meta["n"]) or None)


def build_numeric_index(df: DataFrame, col: str, id_col: str = "doc_id") -> NumericIndex:
    return NumericIndex(values=df.select(F.col(col).alias("value"), F.col(id_col).alias("row_id")))


# -------------------------------------------------------------------- json


def _save_heavy_keyed(frame: DataFrame, out: DataFrame, path: str,
                      mode: str, table: str, part: str, order: tuple,
                      key: Column, n_by: list) -> None:
    """The json/exact save: `out` (frame + its partition column) is
    range-repartitioned on `order` (the InvertedIndex.save layout rule
    — a persisted upstream otherwise writes one file per task per
    partition) and written partitioned by `part` as `table`; the
    manifest meta holds the heavy-hitter stats of `key`, with n = the
    largest `n_by` group (the whole frame when `n_by` is empty). Three
    actions share the frame's corpus lineage (json extraction / md5),
    so it is persisted for the save."""

    def stats(old, staged):
        n = frame.groupBy(*n_by).agg(F.count(F.lit(1)).alias("c")) \
            .agg(F.max("c")).head()[0]
        counts = frame.groupBy(key.alias("key")).agg(
            F.count(F.lit(1)).alias("df"))
        return _heavy_map(counts, int(n or 0), old)

    frame.persist()
    try:
        write_side_table(path, {table: (out.repartitionByRange(*order),
                                        part)}, stats, mode)
    finally:
        frame.unpersist()


#: separator for the composite (path, value) key in the json-index
#: stats — a unit-separator control char no json path contains
_JSON_KEY_SEP = "\x1f"


@dataclass
class JsonIndex:
    """JsonIndex(Inverted) (types.pyi:202-233): (path, value) → row_ids
    for the keys extracted at build time (bluesky-style workloads)."""

    entries: DataFrame  # path, value, row_id
    #: routing-gate stats (manifest meta): heavy (path,value) df
    #: map — a hot value ('type':'like' in a bluesky-style stream) is
    #: the same frequent-term hazard the inverted gate exists for.
    heavy: dict | None = None
    n_rows_est: int | None = None
    floor_frac: float = _HEAVY_FRAC

    def est_selectivity(self, path: str, value) -> float | None:
        """Estimated df(path==value)/n from the persisted stats;
        pairs absent from it are rarer than `floor_frac` (the recording
        floor), the returned upper bound. None = no stats, never gate.
        n is the densest path's entry count — a lower bound on the
        corpus size, so the estimate only ever OVERSTATES selectivity
        (gates conservatively)."""
        if not self.n_rows_est:
            return None
        df = (self.heavy or {}).get(
            f"{path}{_JSON_KEY_SEP}{value}")
        if df is None:
            return min(1.0, self.floor_frac)
        return min(1.0, df / self.n_rows_est)

    def probe(self, path: str, value) -> DataFrame:
        require_saved(self)
        # no distinct: one entry row per (path, corpus row)
        return (
            self.entries.filter((F.col("path") == path)
                                & (F.col("value") == str(value)))
            .select("row_id")
        )

    def save(self, path: str, mode: str = "overwrite") -> None:
        """Entries partitioned by json path (a probe reads exactly one
        directory) + the heavy-value stats in the manifest meta. mode=
        "append": new entries land in new files under each path
        partition — prior files untouched; the stats merge by summing."""
        _save_heavy_keyed(
            self.entries, self.entries, path, mode, "entries", "path",
            ("path", "value"),
            F.concat_ws(_JSON_KEY_SEP, "path", "value"), ["path"])

    @classmethod
    def load(cls, spark: SparkSession, path: str,
             source: DataFrame | None = None) -> "JsonIndex":
        entries, meta = read_side_table(spark, path, "entries")
        ts = _stats_meta(meta)
        return cls(entries=entries, heavy=ts["heavy"],
                   n_rows_est=ts["n_rows_est"], floor_frac=ts["floor_frac"])


def build_json_index(df: DataFrame, json_col: str, paths: list[str],
                     id_col: str = "event_id") -> JsonIndex:
    parts = []
    for p in paths:
        parts.append(
            df.select(
                F.lit(p).alias("path"),
                F.get_json_object(F.col(json_col), f"$.{p}").alias("value"),
                F.col(id_col).alias("row_id"),
            ).filter(F.col("value").isNotNull())
        )
    out = parts[0]
    for x in parts[1:]:
        out = out.unionByName(x)
    return JsonIndex(entries=out)


# ------------------------------------------------------------ exact (text)


@dataclass
class ExactTextIndex:
    """Exact whole-string index (types.pyi:143, index_search.cpp:172-199):
    digest → row_ids hash lookup."""

    digests: DataFrame  # digest, row_id [, bucket]
    #: routing-gate stats (manifest meta): heavy digest df
    #: map — a hot exact value (the empty document, a boilerplate page)
    #: is the same frequent-term hazard the inverted gate exists for.
    heavy: dict | None = None
    n_rows_est: int | None = None
    floor_frac: float = _HEAVY_FRAC

    def est_selectivity(self, value: str) -> float | None:
        """Estimated df(value)/n from the persisted digest stats;
        digests absent from it are rarer than `floor_frac` (the
        recording floor), the returned upper bound. None = no stats,
        never gate."""
        import hashlib

        if not self.n_rows_est:
            return None
        df = (self.heavy or {}).get(
            hashlib.md5(value.encode()).hexdigest())
        if df is None:
            return min(1.0, self.floor_frac)
        return min(1.0, df / self.n_rows_est)

    def probe(self, value: str) -> DataFrame:
        import hashlib

        require_saved(self)
        h = hashlib.md5(value.encode()).hexdigest()
        # partition-prune to the probe's digest-prefix directory; the
        # manifest's recorded schema keeps `bucket` a string even when
        # every stored prefix is all-digits
        return (self.digests.filter(F.col("bucket") == h[:2])
                .filter(F.col("digest") == h).select("row_id"))

    def save(self, path: str, mode: str = "overwrite") -> None:
        """Digests in digest-prefix buckets (probe() filters the bucket
        column so an exact lookup prunes to one partition directory) +
        the heavy-digest stats in the manifest meta. mode="append": new
        digests land in new files per bucket — prior files untouched;
        the stats merge by summing."""
        _save_heavy_keyed(
            self.digests,
            self.digests.withColumn("bucket", F.substring("digest", 1, 2)),
            path, mode, "digests", "bucket", ("bucket", "digest"),
            F.col("digest"), [])

    @classmethod
    def load(cls, spark: SparkSession, path: str,
             source: DataFrame | None = None) -> "ExactTextIndex":
        digests, meta = read_side_table(spark, path, "digests")
        ts = _stats_meta(meta)
        return cls(digests=digests, heavy=ts["heavy"],
                   n_rows_est=ts["n_rows_est"], floor_frac=ts["floor_frac"])


def build_exact_index(df: DataFrame, col: str, id_col: str = "doc_id") -> ExactTextIndex:
    return ExactTextIndex(
        digests=df.select(F.md5(F.col(col)).alias("digest"), F.col(id_col).alias("row_id"))
    )


# ---------------------------------------------------------- index kinds
#
# Every index is a persisted side table (reference: create_index builds
# it, IndexingMode automatic refreshes it on commit — types.pyi:128-248,
# __init__.pyi:2885-2926). INDEX_KINDS is the one place that says how
# each kind is built, saved, delta-appended and loaded; Dataset, the
# query-lane memo and the commit-time refresh all dispatch through it.
# Every index and sketch is a manifest-listed file set under its
# directory: `_log/NNNNNNNN.json` manifests, each listing the parquet
# files of every table (<dir>/<table>/[<part>=<v>/]part-*.parquet) plus
# the kind's metadata (`meta`: bucket bounds, heavy-hitter stats,
# centroids, `n`). write_side_table is the one write, memo.side_table
# the one read; the JVM routing rule reads the same manifests, so
# table names and meta keys must not drift.

#: where a write stages its files before moving them into the table
#: directories (`_`-prefixed: neither Spark's discovery nor the
#: manifest readers look there)
_STAGING = "_staging"


def write_side_table(path: str,
                     tables: dict[str, tuple[DataFrame, str | None]],
                     meta: Callable[[dict | None, Callable], dict],
                     mode: str = "overwrite") -> None:
    """The one write of every index and sketch side table, kill-safe by
    the dataset's own protocol (PAPER.md §1.2): each (frame, partition
    column) in `tables` is written under `_staging/`, its files move
    into <path>/<table>/ under their unique Spark names, and only then
    does manifest n+1 land, in one atomic put. A reader takes the
    newest manifest, so it sees the old state or the new one, never a
    mix. mode="append" is delta maintenance: the new manifest lists the
    previous files plus the delta's (an append onto a path with no
    manifest is a fresh save). `meta(old, staged)` returns the new
    manifest's `meta` from the previous one (None unless appending) and
    `staged(table)`, the staged delta of a table as a DataFrame.

    GC after the put: strays (staged leftovers, files of a crashed
    write) and files that neither the new nor the previous manifest
    lists are deleted, so a plan loaded before this write stays
    executable across it but not across the next (single writer, the
    Dataset convention)."""
    import json
    import uuid

    from deeplake_spark.storage import metadata_store_for

    store = metadata_store_for(path)
    found = memo.manifest(path)
    prev = found[1] if found else None
    base = prev if mode == "append" else None
    stage = os.path.join(path, _STAGING, uuid.uuid4().hex)
    schemas = {}
    for name, (df, part) in tables.items():
        w = df.write.mode("overwrite")
        (w.partitionBy(part) if part else w).parquet(
            os.path.join(stage, name))
        schemas[name] = df.schema.json()
    spark = df.sparkSession
    staged = {name: store.files(os.path.join(stage, name))
              for name in tables}
    new_meta = meta(base and base["meta"], lambda t: memo.read_files(
        spark, os.path.join(stage, t), schemas[t], staged[t]))
    for name, files in staged.items():
        for f in files:
            store.rename(os.path.join(stage, name, f),
                         os.path.join(path, name, f))
    version = (prev["version"] if prev else 0) + 1
    new = {"version": version, "meta": new_meta, "tables": {
        name: {"schema": schemas[name], "files": (
            base["tables"][name]["files"] if base else []) + staged[name]}
        for name in tables}}
    log = os.path.join(path, memo.MANIFEST_DIR)
    store.put_bytes(os.path.join(log, f"{version:08d}.json"),
                    json.dumps(new).encode())
    store.delete(os.path.join(path, _STAGING))
    keep = {(t, f) for m in (new, prev) if m
            for t, spec in m["tables"].items() for f in spec["files"]}
    for t in {t for t, _f in keep} | set(tables):
        for f in store.files(os.path.join(path, t)):
            if (t, f) not in keep:
                store.delete(os.path.join(path, t, f))
    live = {f"{m['version']:08d}.json" for m in (new, prev) if m}
    for name in store.list(log):
        if name not in live:
            store.delete(os.path.join(log, name))


def counted(table: str, meta: dict) -> Callable[[dict | None, Callable], dict]:
    """The `meta` callback of a single-table side table: `meta` plus
    `n`, the table's row count after the write — the corpus size the
    range-coverage gate reads (a stale undercount would decline pruning
    on exactly the append-maintained indexes it targets). The delta is
    counted from its staged files: parquet-metadata-cheap, no recompute
    of the plan."""
    return lambda old, staged: {
        **meta, "n": int((old or {}).get("n", 0)) + staged(table).count()}


def read_side_table(spark: SparkSession, path: str,
                    table: str) -> tuple[DataFrame, dict]:
    """(table, manifest meta) of a side table written by
    write_side_table."""
    return memo.side_table(spark, path, table), memo.manifest(path)[1]["meta"]


@dataclass(frozen=True)
class IndexKind:
    """How one index kind is built, saved, delta-appended and loaded.

    `cls` is the index class; `build(df, column, id_col, options)`
    returns an unsaved index over `df`. `delta(saved_index, new_df,
    column)`, when set, derives an append delta from the SAVED index
    (trained centroids/codebooks, persisted decode params) instead of a
    fresh build over the new rows. `needs_source` marks kinds whose
    rerank reads the live relation bound at load; `required` names the
    create_index option the kind cannot build without; `search`, for
    ANN kinds, is the probe (index, query_vec, live, k=, config=,
    candidates=) behind Dataset.search."""

    cls: type
    build: Callable
    delta: Callable | None = None
    needs_source: bool = False
    required: str | None = None
    search: Callable | None = None

    def save(self, index, path: str) -> None:
        index.save(path)

    def append(self, spark: SparkSession, path: str, new_df: DataFrame,
               column: str, id_col: str, options: dict) -> None:
        """Delta maintenance for an append-only commit: index ONLY the
        new rows and add them next to the existing side-table files,
        which stay untouched."""
        delta = (self.delta(self.load(spark, path), new_df, column)
                 if self.delta else self.build(new_df, column, id_col, options))
        delta.save(path, mode="append")

    def load(self, spark: SparkSession, path: str,
             source: DataFrame | None = None):
        return self.cls.load(spark, path, source)


def _pick(options: dict, *names: str) -> dict:
    return {k: v for k, v in options.items() if k in names}


def _ivf_live_search(index, query_vec, live: DataFrame, **kw) -> DataFrame:
    # index assignments can outlive rows (deletes staged or committed
    # with indexing_mode != 'automatic'): only return rows present in
    # the live snapshot — matching the exact-scan path and the
    # translator's ANN route (the rerank kinds read `live` already)
    return _sim.ivf_search(index, query_vec, **kw).join(
        live.select(index.id_col), index.id_col, "left_semi")


INDEX_KINDS: dict[str, IndexKind] = {
    "inverted": IndexKind(
        InvertedIndex, lambda df, c, i, o: build_inverted_index(df, c, i)),
    "numeric": IndexKind(
        NumericIndex, lambda df, c, i, o: build_numeric_index(df, c, i)),
    "json": IndexKind(
        JsonIndex, lambda df, c, i, o: build_json_index(df, c, o["paths"], i),
        required="paths"),
    "exact": IndexKind(
        ExactTextIndex, lambda df, c, i, o: build_exact_index(df, c, i)),
    "clustered": IndexKind(
        _sim.IVFIndex,
        lambda df, c, i, o: _sim.build_ivf(df, c, i, **_pick(
            o, "n_clusters", "seed", "max_iter", "config")),
        delta=lambda ix, df, c: ix.delta(df), search=_ivf_live_search),
    "pooled": IndexKind(
        _sim.PooledMaxsimIndex,
        lambda df, c, i, o: _sim.build_pooled_maxsim(df, c, i),
        needs_source=True),
    "clustered_quantized": IndexKind(
        _sim.QuantizedIndex,
        lambda df, c, i, o: _sim.build_quantized(df, c, i),
        needs_source=True,
        search=lambda ix, q, live, **kw: _sim.quantized_index_search(
            ix, q, **kw)),
    "pq": IndexKind(
        _sim.PQIndex,
        lambda df, c, i, o: _sim.build_pq(df, c, i, **_pick(
            o, "m", "nbits", "seed", "max_iter", "train_limit",
            "n_clusters", "config")),
        delta=lambda ix, df, c: ix.delta(df), needs_source=True,
        search=lambda ix, q, live, **kw: _sim.pq_search(ix, q, **kw)),
    "fingerprint": IndexKind(
        _mm.FingerprintIndex,
        lambda df, c, i, o: _mm.build_fingerprint_index(df, c, i, **o),
        delta=_mm.FingerprintIndex.delta, required="modality"),
}
