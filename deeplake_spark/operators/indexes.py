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
# size comes from the same persisted sidecars the selectivity gate
# reads; unknown (no stats) fails open, like the selectivity gate.
MIN_CORPUS_ROWS_KEY = "spark.sql.deeplake.routing.minCorpusRows"
DEFAULT_MIN_CORPUS_ROWS = 200_000

# ------------------------------------------- probe → row-group pruning
#
# The reference's index probes return roaring bitmaps that convert to
# CHUNK-granular reads — the corpus is never fully scanned
# (cpp/icm/roaring.hpp; cpp/query_core/index_holder.hpp:37-40). The
# Spark analog: at route time, aggregate the (partition-pruned) probe
# into per-granule row-id min/max, coalesce into a bounded set of
# [lo, hi] ranges, and push them as a LITERAL `id BETWEEN`-OR filter
# under the semijoin — parquet row-group/page min/max stats then skip
# the corpus I/O wholesale when the ingest layout is row-id-sorted
# (ingest writes it that way; see plans/layout.py). The semijoin stays
# on top, so the ranges are pure I/O pruning, never a correctness
# surface. Planning-snapshot semantics: ranges reflect the index at
# plan time, exactly like the reference's bitmap fetched at query
# start — re-plan after a delta append to see new rows.

#: row-id granule the probe is summarized at (the "chunk size" of the
#: bitmap→range conversion). Rows within granule gaps are skipped at
#: row-group resolution, so align with the ingest row-group target.
RANGE_GRANULE_KEY = "spark.sql.deeplake.routing.rangeGranule"
DEFAULT_RANGE_GRANULE = 65536
#: max coalesced ranges in the pushed filter (a 100 TB probe may hit
#: thousands of granules; the filter stays bounded by merging the
#: nearest-gap ranges — a superset, still sound).
MAX_RANGES_KEY = "spark.sql.deeplake.routing.maxRanges"
DEFAULT_MAX_RANGES = 64
#: ranges are skipped when they cover more than this fraction of the
#: corpus (nothing to skip; the per-row OR would be pure overhead).
MAX_RANGE_COVERAGE_KEY = "spark.sql.deeplake.routing.maxRangeCoverage"
DEFAULT_MAX_RANGE_COVERAGE = 0.8
#: probes hitting more granules than this bail out of range pruning
#: (bounds the plan-time collect; such probes cannot prune anyway).
_RANGE_CHUNK_CAP = 4096

RANGE_PRUNE_KEY = "spark.sql.deeplake.routing.rangePrune"


def coalesce_id_ranges(bounds: list[tuple[int, int]],
                       max_ranges: int) -> list[tuple[int, int]]:
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


def probe_id_ranges(ids: DataFrame, granule: int,
                    max_chunks: int = _RANGE_CHUNK_CAP
                    ) -> list[tuple[int, int]] | None:
    """Granule-level min/max summary of a probe's row_id relation (the
    bitmap→chunk-list conversion). One bounded job over the already
    partition-pruned probe; None when the probe touches more granules
    than `max_chunks` (too scattered to prune)."""
    rows = (
        ids.groupBy(F.expr(f"row_id div {int(granule)}").alias("g"))
        .agg(F.min("row_id").alias("lo"), F.max("row_id").alias("hi"))
        .limit(max_chunks + 1)
        .collect()
    )
    if len(rows) > max_chunks:
        return None
    return [(int(r["lo"]), int(r["hi"])) for r in rows]


def granule_probe_ranges(granules: DataFrame, mult: int,
                         max_chunks: int = _RANGE_CHUNK_CAP
                         ) -> list[tuple[int, int]] | None:
    """`probe_id_ranges` over a BUILD-TIME granule summary instead of
    the posting rows (VERDICT r15 #8): `granules` carries one
    (g, lo, hi) row per (term, build-granule) written by
    InvertedIndex.save, so the plan-time job aggregates O(granules)
    pre-reduced rows instead of O(df) posting rows — at 100 TB a
    frequent term's summary drops from a corpus-scale aggregate to a
    footer-sized side-table read. `mult` = session granule / build
    granule (an exact regroup: build granules nest inside session
    granules, and min/max distribute over the merge, so the result is
    IDENTICAL to summarizing the posting rows at the session granule —
    test-pinned). Same bail contract as probe_id_ranges."""
    key = F.expr(f"g div {int(mult)}") if mult > 1 else F.col("g")
    rows = (
        granules.groupBy(key.alias("g"))
        .agg(F.min("lo").alias("lo"), F.max("hi").alias("hi"))
        .limit(max_chunks + 1)
        .collect()
    )
    if len(rows) > max_chunks:
        return None
    return [(int(r["lo"]), int(r["hi"])) for r in rows]


def _range_gates(spark) -> tuple[int, int, float] | None:
    """(granule, max_ranges, max_coverage) from the session conf, or
    None when range pruning is off or the conf is malformed — the ONE
    gate every routed lane's range pruning reads."""
    try:
        # enabled iff "true" (case-insensitive) — the JVM rule parses the
        # same way, so the kill switch can't half-work across lanes
        if spark.conf.get(RANGE_PRUNE_KEY, "true").strip().lower() != "true":
            return None
        granule = int(spark.conf.get(RANGE_GRANULE_KEY,
                                     str(DEFAULT_RANGE_GRANULE)))
        max_ranges = int(spark.conf.get(MAX_RANGES_KEY,
                                        str(DEFAULT_MAX_RANGES)))
        coverage = float(spark.conf.get(MAX_RANGE_COVERAGE_KEY,
                                        str(DEFAULT_MAX_RANGE_COVERAGE)))
    except Exception:
        return None
    if granule <= 0 or max_ranges <= 0:
        return None
    return granule, max_ranges, coverage


def _coverage_gate(ranges: list[tuple[int, int]] | None,
                   n_rows_est: int | None, coverage: float
                   ) -> list[tuple[int, int]] | None:
    """`ranges`, or None when empty or spanning ~the corpus (nothing for
    parquet stats to skip; the per-row OR would be pure overhead).
    Unknown corpus size keeps them."""
    if not ranges:
        return None
    if n_rows_est and sum(hi - lo + 1 for lo, hi in ranges) \
            >= coverage * n_rows_est:
        return None
    return ranges


def routed_scan_ranges(ids: DataFrame, n_rows_est: int | None,
                       granules: DataFrame | None = None,
                       granule_size: int | None = None
                       ) -> list[tuple[int, int]] | None:
    """[lo, hi] row-id ranges for the corpus scan filter, or None when
    pruning is off / too scattered / covers ~everything.

    `granules` (with its build `granule_size`) is an optional
    build-time (g, lo, hi) summary of the SAME probe (e.g.
    InvertedIndex.probe_granules): when the session granule is a
    positive multiple of the build granule, the summary job runs over
    it instead of the probe rows — identical ranges (exact regroup,
    see granule_probe_ranges), plan-time cost O(granules) instead of
    O(probe rows). Any mismatch falls back to summarizing `ids`."""
    gates = _range_gates(ids.sparkSession)
    if gates is None:
        return None
    granule, max_ranges, coverage = gates
    # prefer the build-time granule summary when the session granule
    # aligns (equal, or a multiple — an exact regroup); the cache key
    # below is computed from whichever relation is actually summarized
    src = ids
    mult = 0
    if granules is not None and granule_size and granule_size > 0 \
            and granule % int(granule_size) == 0:
        src = granules
        mult = granule // int(granule_size)
    # content key (memo.plan_key): a hit serving ANOTHER probe's ranges
    # would EXCLUDE true candidate rows from the corpus scan — wrong
    # results, not just a bad plan
    key = memo.plan_key(src)
    if key is not None:
        key += (granule, max_ranges)

    def summarize():
        chunks = (granule_probe_ranges(src, mult) if mult
                  else probe_id_ranges(ids, granule))
        return (coalesce_id_ranges(chunks, max_ranges)
                if chunks is not None else None)

    return _coverage_gate(memo.RANGE_CACHE.get(key, summarize),
                          n_rows_est, coverage)


def collected_id_ranges(spark, ids: list[int], n_rows_est: int | None
                        ) -> list[tuple[int, int]] | None:
    """`routed_scan_ranges` for row ids already on the driver (a
    top-k's collected hits): the same conf gates and coalescing, with
    the granule min/max summary done in Python — no job, no memo."""
    gates = _range_gates(spark)
    if gates is None:
        return None
    granule, max_ranges, coverage = gates
    chunks: dict[int, tuple[int, int]] = {}
    for i in ids:
        g = i // granule
        lo, hi = chunks.get(g, (i, i))
        chunks[g] = (min(lo, i), max(hi, i))
    return _coverage_gate(coalesce_id_ranges(list(chunks.values()),
                                             max_ranges),
                          n_rows_est, coverage)


def ranges_predicate(id_col: str, ranges: list[tuple[int, int]]) -> Column:
    """One F.expr OR-of-BETWEEN string (CLAUDE.md trap 12: a 64-range
    predicate built Column-by-Column costs ~128 py4j round trips)."""
    body = " OR ".join(
        f"(`{id_col}` BETWEEN {int(lo)} AND {int(hi)})" for lo, hi in ranges)
    return F.expr(body)


def prune_scan_to_ids(df: DataFrame, ids: DataFrame, id_col: str,
                      n_rows_est: int | None = None,
                      ids_col: str | None = None,
                      granules: DataFrame | None = None,
                      granule_size: int | None = None) -> DataFrame:
    """`df` with the probe's row-id ranges pushed as a scan filter —
    THE shared prune block for every lazily routed lane (filter
    semijoins, ANN rerank scans), so the dtype gate, conf/scatter/
    coverage gates (routed_scan_ranges) and predicate spelling live in
    exactly one place. The caller's join on top keeps results exact:
    ranges are always a superset of the probe ids. `ids_col` names the
    id column in `ids` (default: its first column)."""
    if dict(df.dtypes).get(id_col) in ("bigint", "int"):
        c = ids_col or ids.columns[0]
        probe = ids.select(F.col(c).alias("row_id")) \
            if c != "row_id" or len(ids.columns) > 1 else ids
        ranges = routed_scan_ranges(probe, n_rows_est,
                                    granules=granules,
                                    granule_size=granule_size)
        if ranges:
            df = df.filter(ranges_predicate(id_col, ranges))
    return df


def routed_semijoin(df: DataFrame, ids: DataFrame, id_col: str,
                    n_rows_est: int | None = None,
                    granules: DataFrame | None = None,
                    granule_size: int | None = None) -> DataFrame:
    """The routed-filter shape: corpus LeftSemi probe — with the probe's
    row-id ranges pushed onto the corpus scan first, so parquet min/max
    stats skip row groups outside them (the reference's chunk-granular
    index read). `ids` is the probe of a saved-and-loaded index, whose
    lineage is a pruned side-table scan, cheap to summarize at plan
    time. `granules` / `granule_size`: the index's build-time probe
    summary, when it has one (routed_scan_ranges docstring)."""
    df = prune_scan_to_ids(df, ids, id_col, n_rows_est,
                           ids_col="row_id", granules=granules,
                           granule_size=granule_size)
    return df.join(ids.withColumnRenamed("row_id", id_col), id_col,
                   "left_semi")

#: build-time heavy-hitter floor: terms with df >= n/64 (~1.6%) are
#: recorded in the termstats sidecar. Any term ABSENT from the sidecar
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
    size (no stats sidecar) fails open — same convention as the
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
    """The heavy-hitter sidecar algorithm shared by every gated index
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


def _load_stats_sidecar(path: str) -> dict:
    """Read a heavy-hitter sidecar; corrupt or missing → {} (the
    index loads stats-less and routes ungated — never fail the
    index over its stats)."""
    from deeplake_spark.storage import get_json, json_exists

    try:
        if not json_exists(path):
            return {}
        ts = get_json(path)
        return {
            "n_rows_est": int(ts.get("n_docs", 0)) or None,
            "floor_frac": float(ts.get("floor_frac", _HEAVY_FRAC)),
            "heavy": {k: int(v) for k, v in ts.get("heavy", {}).items()},
            "range_granule": (int(ts["range_granule"])
                              if ts.get("range_granule") else None),
        }
    except Exception:
        return {}


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
    #: routing-gate stats (termstats.json sidecar): heavy-term df map
    #: + corpus size. None without a readable sidecar — est_selectivity
    #: then returns None and routes stay ungated.
    heavy: dict | None = None
    n_docs_est: int | None = None
    floor_frac: float = _HEAVY_FRAC
    #: build-time per-(term, granule) row-id min/max side table
    #: (g, lo, hi + bucket partition), written by save() at
    #: DEFAULT_RANGE_GRANULE and recorded in the termstats sidecar
    #: (range_granule) — the plan-time range summary aggregates THIS
    #: instead of the posting rows (VERDICT r15 #8). None on
    #: pre-granule indexes (probe paths fall back to the posting job).
    granules: DataFrame | None = None
    granule_size: int | None = None
    #: (n_docs, avgdl) of the merged `stats` row, collected once per
    #: stats-table content at load so BM25 probes take them as
    #: literals. None on a build until it is saved and loaded.
    corpus: tuple[int, float | None] | None = None

    def est_selectivity(self, term: str) -> float | None:
        """Estimated df(term)/n from the persisted heavy-term sidecar;
        terms absent from the sidecar are guaranteed rarer than
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

    def probe_granules(self, terms: list[str]) -> DataFrame | None:
        """Build-time (g, lo, hi) granule rows for `terms`' UNION probe
        (bucket-pruned like the posting probe), or None when this index
        carries no granule table. The union is exact for mode='any' /
        single-term probes and a sound SUPERSET for 'all' (ranges are
        only ever a scan prefilter under an exact join)."""
        if self.granules is None:
            return None
        uniq = sorted({t.lower() for t in terms})
        return _term_hit(self.granules, uniq).select("g", "lo", "hi")

    def save(self, path: str, mode: str = "overwrite") -> None:
        """Write the side tables and the termstats sidecar. mode=
        "append" is delta maintenance: this (delta-built) index's
        postings/doclens land as NEW files next to the existing ones —
        union-on-read, prior files untouched (reference IndexingMode
        automatic, __init__.pyi:2885-2926). Stats accumulate one row
        per delta; load() merges them."""
        from deeplake_spark.storage import get_json, json_exists, put_json

        # A build's frames share one corpus-tokenize lineage, and the
        # four actions below would each re-run it (r14 review: ~5 full
        # corpus passes per ingest). Persist the two corpus-sized
        # frames for the duration of the save — one lineage fill each
        # — and release before returning.
        self.postings.persist()
        self.doclens.persist()
        try:
            # Build-time granule summary (VERDICT r15 #8): one
            # (g, lo, hi) row per (term, DEFAULT_RANGE_GRANULE block),
            # bucketed/partitioned exactly like the postings so probes
            # prune the same way. The plan-time range summary then
            # aggregates O(granules) pre-reduced rows instead of O(df)
            # posting rows (routed_scan_ranges). Written BEFORE the
            # postings so an interrupted APPEND leaves granules ⊇
            # postings — ranges stay a sound superset. On append, only
            # when the existing sidecar records the SAME granule (a
            # pre-granule or differently-granuled base would leave the
            # table missing the base rows — load would serve ranges
            # that EXCLUDE true candidates); otherwise the sidecar key
            # is dropped and load falls back to the posting-row job.
            # An append onto an empty path (no sidecar, no postings) is
            # a fresh save and records its granule.
            granule_meta: int | None = DEFAULT_RANGE_GRANULE
            sidecar = os.path.join(path, "termstats.json")
            old = get_json(sidecar) if json_exists(sidecar) else None
            if mode == "append":
                base = old is not None or json_exists(
                    os.path.join(path, "postings"))
                if base and (old or {}).get("range_granule") \
                        != DEFAULT_RANGE_GRANULE:
                    granule_meta = None
            elif old is not None and old.pop("range_granule", None):
                # OVERWRITE onto an existing index dir: strip the
                # coverage key BEFORE any data write — a crash between
                # the new granules and the new postings would otherwise
                # leave a stale key vouching for a granule table that
                # no longer matches the postings (ranges could then
                # EXCLUDE true candidate rows). With the key gone,
                # every partially-overwritten state loads granule-less
                # (sound fallback); the final _write_termstats restores
                # it only after all writes landed. A failing strip
                # raises here, before anything is written.
                put_json(sidecar, old)
            if granule_meta:
                (self.postings
                 .groupBy("term",
                          F.expr(f"row_id div {int(granule_meta)}")
                          .alias("g"))
                 .agg(F.min("row_id").alias("lo"),
                      F.max("row_id").alias("hi"))
                 .withColumn("bucket", F.abs(F.hash("term")) % 64)
                 .repartitionByRange("bucket", "term")
                 .write.mode(mode).partitionBy("bucket").parquet(
                     os.path.join(path, "granules")))
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
            self.postings.withColumn(
                "bucket", F.abs(F.hash("term")) % 64) \
                .repartitionByRange("bucket", "term") \
                .write.mode(mode).partitionBy("bucket").parquet(
                    os.path.join(path, "postings"))
            self.stats.write.mode(mode).parquet(os.path.join(path, "stats"))
            self.doclens.write.mode(mode).parquet(
                os.path.join(path, "doclens"))
            self._write_termstats(sidecar,
                                  old if mode == "append" else None,
                                  granule=granule_meta)
        finally:
            self.postings.unpersist()
            self.doclens.unpersist()

    def _write_termstats(self, sidecar: str, old: dict | None,
                         granule: int | None = None) -> None:
        """Persist the routing-gate sidecar: df for every HEAVY term
        (df >= floor_frac * n) + corpus size — the stats the reference
        injects into its cost hook (column_statistics.cpp:278-356).
        Bounded: heavy terms number at most avgdl/floor_frac, and a
        _HEAVY_CAP top-by-df cut raises the recorded floor so unknown
        terms keep a sound upper bound. On delta append (`old` = the
        base's sidecar) the maps merge by summing, and a term already
        heavy in the OLD map gets its EXACT delta df (probed below the
        delta's own floor) so repeated appends cannot erode a frequent
        term's estimate below the gate; a term absent from BOTH maps
        has df < floor*n_i in each segment, hence < max(floor)*n
        overall — the bound survives."""
        from deeplake_spark.storage import put_json

        srow = self.stats.agg(
            F.sum("n_docs").cast("long").alias("n")).head()
        n = int(srow["n"] or 0)
        counts = self.postings.groupBy(
            F.col("term").alias("key")).agg(F.count(F.lit(1)).alias("df"))
        payload = _heavy_map(counts, n, old)
        # range_granule present ⟺ the granules side table covers ALL
        # postings at that granule (save() writes/declines the table
        # and this key together; see the granule_meta comment there)
        if granule:
            payload["range_granule"] = int(granule)
        put_json(sidecar, payload)

    @classmethod
    def load(cls, spark: SparkSession, path: str,
             source: DataFrame | None = None) -> "InvertedIndex":
        # stats may hold one row per appended delta: merge with a
        # doc-count-weighted average (tiny relation — rows == deltas)
        stats_path = os.path.join(path, "stats")
        stats = memo.side_table(spark, stats_path).agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            (F.sum(F.col("n_docs") * F.col("avgdl")) / F.sum("n_docs")).alias("avgdl"),
        )
        # one small job per stats content: a delta append adds a stats
        # file, so its tree key — and this value — changes with it
        corpus = memo.side_table_value(
            spark, stats_path, "corpus", lambda: tuple(stats.head()))
        # stats are ADVISORY: a corrupt/half-written sidecar (crashed
        # append) must not brick index loading — load stats-less
        # (est_selectivity None => never gated), the same fail-open
        # the JVM rule applies
        ts = _load_stats_sidecar(os.path.join(path, "termstats.json"))
        # granule side table: only trusted when the sidecar recorded
        # its granule in the same save (the key ⟺ full-coverage
        # invariant — see save()); a missing/unreadable table degrades
        # to the posting-row summary, never an error
        gsize = ts.get("range_granule")
        granules = None
        if gsize:
            try:
                granules = memo.side_table(
                    spark, os.path.join(path, "granules"))
            except Exception:
                granules, gsize = None, None
        return cls(
            # keep `bucket`: probes prune the term-hash partition with it
            # (_term_hit) — dropping it here made every probe scan all 64
            # posting partitions
            postings=memo.side_table(spark, os.path.join(path, "postings")),
            stats=stats,
            doclens=memo.side_table(spark, os.path.join(path, "doclens")),
            heavy=ts.get("heavy"),
            n_docs_est=ts.get("n_rows_est"),
            floor_frac=ts.get("floor_frac", _HEAVY_FRAC),
            granules=granules,
            granule_size=gsize,
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
                           granules=index.probe_granules([term]),
                           granule_size=index.granule_size)


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
    in a sidecar; delta appends reuse them (values outside the original
    range clamp to the edge buckets — the value filter keeps probes
    exact)."""

    values: DataFrame  # value, row_id [, bucket]
    vmin: float | None = None
    width: float | None = None
    #: routing-gate stats (meta.json): per-bucket row counts + total —
    #: the 64-cell histogram the range/IN gate estimates from (the
    #: zone-map twin of the reference's planner stats injection,
    #: column_statistics.cpp:278-356). None on pre-stats indexes.
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
        """Write the range-bucketed values and the meta.json sidecar
        (bucket bounds + histogram). mode="append" is a delta append
        with the EXISTING bucket bounds — prior files untouched; the
        histogram merges by summing per-bucket counts."""
        from deeplake_spark.storage import get_json, put_json

        meta_path = os.path.join(path, "meta.json")
        if mode == "append":
            meta = get_json(meta_path)
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
        # range-repartition before the partitionBy write (the
        # InvertedIndex.save layout rule): ~1 file per bucket dir at
        # small scale, files proportional to shuffle partitions at
        # 100 TB
        self.values.withColumn("bucket", bucket) \
            .repartitionByRange("bucket", "value") \
            .write.mode(mode).partitionBy("bucket") \
            .parquet(os.path.join(path, "values"))
        # per-bucket row counts with the same bucket expression the
        # writer partitions by — ≤64 rows collected, build-time only
        rows = (self.values.groupBy(bucket.alias("b"))
                .agg(F.count(F.lit(1)).alias("c")).collect())
        counts = dict(meta.get("bucket_counts", {}))
        for r in rows:
            b = str(int(r["b"]))
            counts[b] = int(counts.get(b, 0)) + int(r["c"])
        meta.update(bucket_counts=counts, n=int(meta.get("n", 0))
                    + sum(int(r["c"]) for r in rows))
        put_json(meta_path, meta)

    @classmethod
    def load(cls, spark: SparkSession, path: str,
             source: DataFrame | None = None) -> "NumericIndex":
        from deeplake_spark.storage import get_json, json_exists

        vmin = width = counts = n = None
        meta_path = os.path.join(path, "meta.json")
        if json_exists(meta_path):
            try:
                meta = get_json(meta_path)
                vmin, width = meta["vmin"], meta["width"]
                counts = meta.get("bucket_counts")
                n = int(meta.get("n", 0)) or None
            except Exception:
                # histogram stats are advisory — a corrupt sidecar
                # loads stats-less (never gated), not a crash
                vmin = width = counts = n = None
        return cls(
            values=memo.side_table(spark, os.path.join(path, "values")),
            vmin=vmin, width=width, bucket_counts=counts, n_rows=n,
        )


def build_numeric_index(df: DataFrame, col: str, id_col: str = "doc_id") -> NumericIndex:
    return NumericIndex(values=df.select(F.col(col).alias("value"), F.col(id_col).alias("row_id")))


# -------------------------------------------------------------------- json


def _save_heavy_keyed(frame: DataFrame, out: DataFrame, path: str,
                      mode: str, table: str, part: str, order: tuple,
                      sidecar: str, key: Column, n_by: list) -> None:
    """The json/exact save: `out` (frame + its partition column) is
    range-repartitioned on `order` (the InvertedIndex.save layout rule
    — a persisted upstream otherwise writes one file per task per
    partition) and written partitioned by `part` under `table`; the
    heavy-hitter sidecar counts `key`, with n = the largest `n_by`
    group (the whole frame when `n_by` is empty). Three actions share
    the frame's corpus lineage (json extraction / md5), so it is
    persisted for the save."""
    from deeplake_spark.storage import get_json, json_exists, put_json

    frame.persist()
    try:
        out.repartitionByRange(*order).write.mode(mode) \
            .partitionBy(part).parquet(os.path.join(path, table))
        sc = os.path.join(path, sidecar)
        old = get_json(sc) if mode == "append" and json_exists(sc) else None
        n = frame.groupBy(*n_by).agg(F.count(F.lit(1)).alias("c")) \
            .agg(F.max("c")).head()[0]
        counts = frame.groupBy(key.alias("key")).agg(
            F.count(F.lit(1)).alias("df"))
        put_json(sc, _heavy_map(counts, int(n or 0), old))
    finally:
        frame.unpersist()


#: separator for the composite (path, value) key in the json-index
#: stats sidecar — a unit-separator control char no json path contains
_JSON_KEY_SEP = "\x1f"


@dataclass
class JsonIndex:
    """JsonIndex(Inverted) (types.pyi:202-233): (path, value) → row_ids
    for the keys extracted at build time (bluesky-style workloads)."""

    entries: DataFrame  # path, value, row_id
    #: routing-gate stats (valstats.json sidecar): heavy (path,value) df
    #: map — a hot value ('type':'like' in a bluesky-style stream) is
    #: the same frequent-term hazard the inverted gate exists for.
    heavy: dict | None = None
    n_rows_est: int | None = None
    floor_frac: float = _HEAVY_FRAC

    def est_selectivity(self, path: str, value) -> float | None:
        """Estimated df(path==value)/n from the persisted sidecar;
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
        directory) + the valstats.json heavy-value sidecar. mode=
        "append": new entries land in new files under each path
        partition — prior files untouched; valstats merge by summing."""
        _save_heavy_keyed(
            self.entries, self.entries, path, mode, "entries", "path",
            ("path", "value"), "valstats.json",
            F.concat_ws(_JSON_KEY_SEP, "path", "value"), ["path"])

    @classmethod
    def load(cls, spark: SparkSession, path: str,
             source: DataFrame | None = None) -> "JsonIndex":
        ts = _load_stats_sidecar(os.path.join(path, "valstats.json"))
        return cls(entries=memo.side_table(spark,
                                           os.path.join(path, "entries")),
                   heavy=ts.get("heavy"),
                   n_rows_est=ts.get("n_rows_est"),
                   floor_frac=ts.get("floor_frac", _HEAVY_FRAC))


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
    #: routing-gate stats (digeststats.json sidecar): heavy digest df
    #: map — a hot exact value (the empty document, a boilerplate page)
    #: is the same frequent-term hazard the inverted gate exists for.
    heavy: dict | None = None
    n_rows_est: int | None = None
    floor_frac: float = _HEAVY_FRAC

    def est_selectivity(self, value: str) -> float | None:
        """Estimated df(value)/n from the persisted digest sidecar;
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
        out = self.digests
        # Partition-prune to the probe's digest-prefix directory.
        # Type-adaptive literal (r14 review, confirmed live): when
        # every stored prefix happens to be all-digits, Spark's
        # partition-type inference loads `bucket` as INT, and a
        # string comparison would ANSI-cast an alpha prefix like
        # 'aa' to BIGINT and CRASH instead of returning empty.
        dt = {f.name: f.dataType.simpleString()
              for f in out.schema.fields}["bucket"]
        b = h[:2]
        if dt == "string":
            out = out.filter(F.col("bucket") == b)
        elif b.isdigit():
            out = out.filter(F.col("bucket") == int(b))
        else:  # alpha prefix cannot exist among numeric partitions
            return (out.filter(F.lit(False)).select("row_id"))
        return out.filter(F.col("digest") == h).select("row_id")

    def save(self, path: str, mode: str = "overwrite") -> None:
        """Digests in digest-prefix buckets (probe() filters the bucket
        column so an exact lookup prunes to one partition directory) +
        the digeststats.json sidecar. mode="append": new digests land
        in new files per bucket — prior files untouched; digeststats
        merge by summing."""
        _save_heavy_keyed(
            self.digests,
            self.digests.withColumn("bucket", F.substring("digest", 1, 2)),
            path, mode, "digests", "bucket", ("bucket", "digest"),
            "digeststats.json", F.col("digest"), [])

    @classmethod
    def load(cls, spark: SparkSession, path: str,
             source: DataFrame | None = None) -> "ExactTextIndex":
        ts = _load_stats_sidecar(os.path.join(path, "digeststats.json"))
        return cls(digests=memo.side_table(spark,
                                           os.path.join(path, "digests")),
                   heavy=ts.get("heavy"), n_rows_est=ts.get("n_rows_est"),
                   floor_frac=ts.get("floor_frac", _HEAVY_FRAC))


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
# Each index class writes its own tables + sidecar in save(path, mode)
# and reads them back in load(spark, path, source); the on-disk layout
# (file names and sidecar keys) is read directly by the JVM routing
# rule, so it must not drift.


def write_side_table(df: DataFrame, path: str, table: str, sidecar: str,
                     meta: dict, mode: str = "overwrite",
                     partition_by: str | None = None) -> None:
    """The vector/fingerprint families' save: `df` written under
    <path>/<table> (`mode` overwrite or append; optionally partitioned)
    and the JSON `sidecar` = `meta` + `n`, the side table's row count
    after the write — the corpus size the range-coverage gate reads (a
    stale undercount would decline pruning on exactly the
    append-maintained indexes it targets). n is counted from the files
    just written: parquet-metadata-cheap, no recompute of the plan. The
    count reads through `memo.side_table`, so the first load after the
    save reuses that read."""
    from deeplake_spark.storage import put_json

    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(os.path.join(path, table))
    n = int(memo.side_table(df.sparkSession,
                            os.path.join(path, table)).count())
    put_json(os.path.join(path, sidecar), {**meta, "n": n})


def read_side_table(spark: SparkSession, path: str, table: str,
                    sidecar: str) -> tuple[DataFrame, dict]:
    """(side table, sidecar dict) as written by write_side_table."""
    from deeplake_spark.storage import get_json

    meta = get_json(os.path.join(path, sidecar))
    return memo.side_table(spark, os.path.join(path, table)), meta


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
