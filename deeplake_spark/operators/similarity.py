"""Similarity search operators: exact top-k, batched kNN, IVF
(clustered) index + search, and binary-quantized search — the Spark
re-expression of the reference's embedding indexes
(`EmbeddingIndex(Clustered|ClusteredQuantized)` types.pyi:145,625-632,
`SearchConfig` presets query_core/search_config.hpp:57-96,
top-k fast path query_core/top_k_search_info.hpp:17-66).

Scale design:
  - exact top-k is scan → TakeOrderedAndProject: k rows per partition
    reach the driver, nothing shuffles.
  - IVF: k-means at build time (MLlib), assignments written
    cluster-partitioned so a query scans only `nprobe` clusters
    (partition pruning = the reference's cluster-prune fast path);
    centroids are tiny and broadcast.
  - quantized: 1-bit sign quantization + Hamming prefilter to
    k*accuracy_factor candidates, exact cosine rerank (the
    ClusteredQuantized two-stage plan).
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass
from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from deeplake_spark import memo
from deeplake_spark.functions.vector import cosine_similarity, dot, l2_norm, sign_bits


@dataclass
class SearchConfig:
    """Query-time recall/latency knobs — mirrors the reference presets
    (fast=1, balanced=5, default=10, high_accuracy=20)."""

    accuracy_factor: int = 10
    nprobe: int = 4
    #: Ceiling on filtered-search probe widening: honoring recall for a
    #: WHERE-prefiltered search widens eff-nprobe by 1/selectivity (see
    #: _widened_nprobe); this bounds the widened probe at
    #: max_widen_factor x the base probe cost so a very selective
    #: filter can't silently turn the route into a full-index scan.
    #: Routing layers fall back to the stock exact plan instead when
    #: the cap binds (_widening_capped); direct ivf_search/pq_search
    #: callers get a cost-bounded (possibly lower-recall) probe.
    max_widen_factor: int = 8

    @classmethod
    def fast(cls) -> "SearchConfig":
        return cls(accuracy_factor=1, nprobe=1)

    @classmethod
    def balanced(cls) -> "SearchConfig":
        return cls(accuracy_factor=5, nprobe=2)

    @classmethod
    def high_accuracy(cls) -> "SearchConfig":
        return cls(accuracy_factor=20, nprobe=8)


def topk_cosine(df: DataFrame, vec_col: str, query_vec, k: int = 10,
                id_col: str = "vec_id", payload_cols: tuple[str, ...] = ()) -> DataFrame:
    """Exact ORDER BY cosine DESC LIMIT k (TakeOrderedAndProject)."""
    if isinstance(query_vec, Column):
        score = cosine_similarity(F.col(vec_col), query_vec)
    else:  # literal vector: whole score as ONE parsed expr (trap 12)
        from deeplake_spark.functions.vector import literal_vec_sql
        score = cosine_similarity(f"`{vec_col}`", literal_vec_sql(query_vec))
    return (
        df.select(
            id_col,
            *payload_cols,
            F.round(score, 6).alias("score"),
        )
        .orderBy(F.desc("score"), id_col)
        .limit(k)
    )


def knn_batch(df: DataFrame, queries: DataFrame, vec_col: str = "embedding",
              qvec_col: str = "qv", qid_col: str = "qid", k: int = 5,
              id_col: str = "vec_id") -> DataFrame:
    """Top-k per query vector: broadcast the (small) query set, window
    rank per query (run_batch parameterized-query pattern)."""
    scored = (
        df.crossJoin(F.broadcast(queries))
        .filter(F.col(id_col) != F.col(qid_col))
        .select(
            qid_col,
            id_col,
            F.round(cosine_similarity(f"`{vec_col}`", f"`{qvec_col}`"), 6).alias("score"),
        )
    )
    w = Window.partitionBy(qid_col).orderBy(F.desc("score"), id_col)
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


# ---------------------------------------------------------------------------
# IVF (clustered) index


@dataclass
class IVFIndex:
    """Clustered embedding index: row → cluster assignments plus the
    centroid list. In production `assignments` is written as a table
    partitioned by `cluster` (partition pruning does the cluster prune);
    `centroids` is a list of (cluster_id, center) kept broadcast-small."""

    assignments: DataFrame  # id_col, vec_col, cluster
    centroids: list  # [(cluster_id, [float, ...])]
    vec_col: str
    id_col: str
    #: corpus size from the persisted meta (range-coverage gate)
    n_rows_est: int | None = None

    def save(self, path: str, mode: str = "overwrite") -> None:
        """Assignments written PARTITIONED BY cluster (a probe reads
        only nprobe directories — the physical cluster prune);
        centroids in the manifest meta."""
        from deeplake_spark.operators.indexes import counted, write_side_table

        write_side_table(path, {"assignments": (self.assignments, "cluster")},
                         counted("assignments", {
                             "centroids": self.centroids,
                             "vec_col": self.vec_col, "id_col": self.id_col}),
                         mode)

    @classmethod
    def load(cls, spark, path: str, source: DataFrame | None = None) -> "IVFIndex":
        from deeplake_spark.operators.indexes import read_side_table

        assignments, meta = read_side_table(spark, path, "assignments")
        return cls(assignments=assignments,
                   centroids=[(int(c), v) for c, v in meta["centroids"]],
                   vec_col=meta["vec_col"], id_col=meta["id_col"],
                   n_rows_est=meta.get("n"))

    def delta(self, new_df: DataFrame) -> "IVFIndex":
        """Delta maintenance: NEW rows assigned to the existing
        centroids. Saved with mode="append", prior cluster files and
        centroids remain untouched (re-clustering only on an explicit
        create_index; reference IndexingMode automatic,
        __init__.pyi:2885-2926)."""
        assigned = assign_to_centroids(
            new_df.select(self.id_col, self.vec_col), self.vec_col,
            self.centroids)
        return IVFIndex(assigned, self.centroids, self.vec_col, self.id_col)


def _ivf_build_plan(n_total: int, n_clusters: int) -> tuple[int, int]:
    """(nlist, training-set target) for an IVF build over `n_total`
    vectors. `n_clusters` <= 0 picks the FAISS rule nlist ~ sqrt(N)
    clamped to [16, 4096] — a fixed nlist leaves 100 TB cells
    millions of vectors deep (no prune) or tiny corpora over-split.
    Training is bounded at ~256 vectors/centroid (min 20k): k-means
    quality saturates there, so the expensive multi-pass fit runs on
    a sample while the full corpus is touched exactly ONCE (the
    assignment pass) — the FAISS train/add protocol, same reason the
    PQ codebooks train on a bounded sample (CLAUDE.md trap 10)."""
    if n_clusters <= 0:
        n_clusters = int(min(4096, max(16, round(math.sqrt(max(1, n_total))))))
    return n_clusters, max(20_000, 256 * n_clusters)


def build_ivf(df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id",
              n_clusters: int = 16, seed: int = 42, max_iter: int = 10,
              config=None) -> IVFIndex:
    """K-means build via MLlib (the reference's clustered index build —
    build happens as a batch job, not per query). `config`
    (IndexBuildConfig) scales the k-means effort: maxIter *
    build_multiplier — fast() halves build time, high_quality()
    doubles the refinement passes. `n_clusters=0` auto-sizes nlist to
    ~sqrt(N); the fit always runs on a bounded sample (see
    `_ivf_build_plan`) so build cost is O(corpus) for the single
    assignment pass, not O(maxIter * corpus)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    if config is not None:
        max_iter = max(1, int(round(max_iter * config.build_multiplier)))
    feats = df.select(id_col, vec_col).withColumn(
        "__features", array_to_vector(F.col(vec_col).cast("array<double>"))
    )
    n_total = feats.count()  # parquet-metadata-cheap; build is a batch job
    n_clusters, train_target = _ivf_build_plan(n_total, n_clusters)
    train = feats
    if n_total > train_target:
        # distributed sample — nothing is collected to the driver
        train = feats.sample(fraction=min(1.0, 1.05 * train_target / n_total),
                             seed=seed)
    model = KMeans(k=n_clusters, seed=seed, maxIter=max_iter,
                   featuresCol="__features").fit(train)
    assignments = (
        model.transform(feats)
        .select(id_col, vec_col, F.col(model.getPredictionCol()).alias("cluster"))
    )
    centroids = [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]
    return IVFIndex(assignments=assignments, centroids=centroids, vec_col=vec_col, id_col=id_col)


def assign_to_centroids(df: DataFrame, vec_col: str, centroids: list) -> DataFrame:
    """Nearest-centroid assignment as a pure JVM expression (no MLlib
    fit): per row, argmin of squared distance over the (broadcast-small)
    centroid literals — the incremental-indexing path, where new rows
    join existing clusters and no re-clustering happens."""
    def dist2(c: list) -> Column:
        lit = F.array(*[F.lit(float(x)) for x in c])
        return F.aggregate(
            F.zip_with(F.col(vec_col).cast("array<double>"), lit,
                       lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    pairs = F.array(*[
        F.struct(dist2(c).alias("d"), F.lit(int(cid)).alias("c"))
        for cid, c in centroids
    ])
    best = F.array_min(pairs)["c"]
    return df.withColumn("cluster", best)


def topk_l2(df: DataFrame, vec_col: str, query_vec, k: int = 10,
            id_col: str = "vec_id") -> DataFrame:
    """Exact ORDER BY L2 distance ASC LIMIT k (TakeOrderedAndProject) —
    the distance twin of topk_cosine, serving the reference's
    `ORDER BY L2_NORM(embedding - <vec>)` pattern (tql.md Array
    Operations)."""
    if isinstance(query_vec, Column):
        diff = F.zip_with(F.col(vec_col).cast("array<double>"), query_vec,
                          lambda a, b: a - b)
        dist = l2_norm(diff)
    else:  # literal vector: whole distance as ONE parsed expr (trap 12)
        from deeplake_spark.functions.vector import _l2_norm_sql, literal_vec_sql
        diff = (f"zip_with(cast(`{vec_col}` as array<double>), "
                f"{literal_vec_sql(query_vec)}, (a, b) -> a - b)")
        dist = F.expr(_l2_norm_sql(diff))
    return (
        df.select(id_col, F.round(dist, 6).alias("dist"))
        .orderBy(F.asc("dist"), id_col)
        .limit(k)
    )


def _widened_nprobe(n_clusters: int, config,
                    candidate_selectivity: float | None) -> int:
    """eff-nprobe with filtered-search compensation: when the probe is
    restricted to a WHERE-prefiltered candidate set keeping fraction
    `s` of rows, the nearest cells hold ~s of their usual candidate
    mass — recall degrades as s falls. Widen the probe set by 1/s
    (capped at every cell == the reference's behavior, which runs
    top_k with a roaring prefilter over the FULL index,
    cpp/query_core/index_holder.hpp:35-36). None = unfiltered or no
    estimate: the stock eff-nprobe.

    Design note: the accuracy_factor term probes a FRACTION of the
    index (af/20 of the cells), not a fixed cell count — deliberately.
    A fixed nprobe gives recall that decays as nlist grows with the
    corpus (the FAISS failure mode users tune around); a fixed
    fraction keeps each preset's recall roughly scale-invariant, which
    is what a declarative accuracy dial should mean. The scan cost is
    still pruned by the same factor at every scale (SCALING.md's
    routed-vs-exact table), and callers who want FAISS-style absolute
    probes set `config.nprobe` explicitly — it is the floor of the
    same max()."""
    eff = _base_nprobe(n_clusters, config)
    if candidate_selectivity is not None and candidate_selectivity > 0:
        # full probe gives exact filtered recall, so the honest need is
        # min(1/s widening, all cells); the cap bounds what we'll pay
        need = min(n_clusters,
                   math.ceil(eff / max(candidate_selectivity,
                                       1.0 / n_clusters)))
        eff = min(need, eff * max(config.max_widen_factor, 1))
    return eff


def _base_nprobe(n_clusters: int, config) -> int:
    return min(
        n_clusters,
        max(config.nprobe, math.ceil(n_clusters * config.accuracy_factor / 20)),
    )


def _widening_capped(n_clusters: int, config,
                     candidate_selectivity: float | None) -> bool:
    """True when honoring filtered recall — 1/s probe widening, which
    never needs more than all cells — would exceed
    ``max_widen_factor`` x the base probe cost. Routing layers check
    this BEFORE rewriting and leave the stock exact plan in place: an
    over-widened probe pays most of a full-index scan AND a rerank
    while a stock scan over the (tiny) filtered set is both exact and
    cheaper. Mirrored by the Catalyst rule's
    spark.sql.deeplake.routing.ann.maxWidenFactor conf."""
    if candidate_selectivity is None or candidate_selectivity <= 0:
        return False
    base = _base_nprobe(n_clusters, config)
    need = min(n_clusters,
               math.ceil(base / max(candidate_selectivity,
                                    1.0 / n_clusters)))
    return need > base * max(config.max_widen_factor, 1)


def ivf_search(index: IVFIndex, query_vec, k: int = 10,
               config: SearchConfig | None = None,
               candidates: DataFrame | None = None,
               metric: str = "cosine",
               candidate_selectivity: float | None = None) -> DataFrame:
    """Probe the `nprobe` nearest clusters, exact-rerank inside them.
    `metric` picks the rerank ordering: cosine DESC (similarity) or
    l2 ASC (distance — k-means cells are euclidean, so the same
    cluster prune serves both).

    The centroid ranking is O(n_clusters * dim) driver-side arithmetic
    (centroids are index metadata, like the reference's in-memory
    centroid table); the data-sized work is a pruned scan.

    `candidates` (a 1-column row-id relation) restricts the search to a
    filtered row set — the reference's filter+search combination, where
    a WHERE prefilter becomes a roaring row set handed to the index
    probe (cpp/query_core/index_holder.hpp:30-36, tql.md filtered
    search). Here it is a semijoin applied after the cluster prune, so
    its cost is O(pruned rows), never O(corpus).
    `candidate_selectivity` (estimated fraction of rows the filter
    keeps, from the index stats sidecars) widens eff-nprobe by 1/s so
    filtered recall holds — see _widened_nprobe.
    """
    import numpy as np

    from deeplake_spark.operators.indexes import require_saved

    require_saved(index)
    config = config or SearchConfig()
    q = np.asarray(list(query_vec), dtype=np.float64)
    dists = [
        (cid, float(np.linalg.norm(np.asarray(c) - q))) for cid, c in index.centroids
    ]
    # accuracy_factor widens the probe set proportionally to cluster
    # count (the reference's recall/latency knob, search_config.hpp:31-55):
    # high_accuracy (20) probes ~all clusters, fast (1) probes few
    n_clusters = len(index.centroids)
    eff_nprobe = _widened_nprobe(
        n_clusters, config,
        candidate_selectivity if candidates is not None else None)
    probe = [cid for cid, _ in sorted(dists, key=lambda t: t[1])[:eff_nprobe]]
    pruned = index.assignments.filter(F.col("cluster").isin(probe))
    if candidates is not None:
        pruned = pruned.join(_cand_ids(candidates, index.id_col),
                             index.id_col, "left_semi")
    if metric == "l2":
        return topk_l2(pruned, index.vec_col, q.tolist(), k=k, id_col=index.id_col)
    return topk_cosine(pruned, index.vec_col, q.tolist(), k=k, id_col=index.id_col)


def _route_clusters(centroids: list, eff_nprobe: int):
    """Arrow-batched per-query centroid routing (see
    functions.vector.route_clusters_pandas): the one spelling of the
    routing math shared by `ivf_search_batch` and `streaming.vectors`
    — their batch/stream equivalence is test-pinned. Replaced the
    interpreted per-row SQL fold in round 13: that spelling cost
    O(n_clusters * dim) lambda evals per query row (~26 s for a
    2k-query batch at nlist=160; linear in nlist), this one routes
    the same batch in well under a second."""
    from deeplake_spark.functions.vector import route_clusters_pandas

    return route_clusters_pandas([c for _, c in centroids],
                                 [cid for cid, _ in centroids],
                                 eff_nprobe)


def _routed_size_estimate(queries: DataFrame, qid_col: str,
                          qvec_col: str, nprobe: int) -> int | None:
    """Plan-time byte bound for the routed (qid, cluster, qvec)
    relation: Catalyst's optimized-plan size estimate of the projected
    query side × nprobe (each query replicates once per probed
    cluster, vector attached). No job runs — this is the same stats
    source Spark's own auto-broadcast planning reads; un-stat'd plans
    answer ~8 EiB, which the gate treats as 'too big' (the safe
    shuffle fallback). None on any estimation failure."""
    try:
        proj = queries.select(qid_col, qvec_col)
        est = int(proj._jdf.queryExecution().optimizedPlan()
                  .stats().sizeInBytes())
        return est * max(int(nprobe), 1)
    except Exception:
        return None


def _auto_broadcast_queries(queries: DataFrame, qid_col: str,
                            qvec_col: str, nprobe: int) -> bool:
    """Routing-gate for the batched-kNN join strategy (r14 verdict #3):
    broadcast the routed query relation only when its plan-time size
    bound fits the session's broadcast threshold
    (spark.sql.autoBroadcastJoinThreshold; -1 disables). A query BATCH
    (the common case) broadcasts; a corpus-sized query relation falls
    to the cluster-keyed shuffle join instead of an ~8 GB broadcast
    OOM the caller had to know to avoid. Callers can still pin either
    regime explicitly."""
    spark = queries.sparkSession
    try:
        raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            thr = int(raw)
        except ValueError:  # "10MB"-style spelling
            thr = int(spark._jvm.org.apache.spark.util.Utils
                      .byteStringAsBytes(raw))
    except Exception:
        thr = 10 * 1024 * 1024
    if thr <= 0:
        return False
    est = _routed_size_estimate(queries, qid_col, qvec_col, nprobe)
    return est is not None and est <= thr


def ivf_search_batch(index: IVFIndex, queries: DataFrame,
                     qvec_col: str = "qv", qid_col: str = "qid",
                     k: int = 5,
                     config: SearchConfig | None = None,
                     broadcast_queries: bool | None = None) -> DataFrame:
    """Batched kNN through the IVF index: resolve a whole query SET in
    ONE pruned corpus pass (the run_batch / multi-query pattern that
    brute-force `knn_batch` pays a corpus scan PER query batch for —
    at 1000 queries over 100 TB that difference is the job).

    ``broadcast_queries`` pins the routed-join strategy: True (right
    for query BATCHES) broadcasts the (qid, cluster, qvec) routing
    relation — nprobe rows per query, each carrying the query vector,
    so it must fit Spark's broadcast ceiling (~8 GB ≈ tens of millions
    of 64-dim queries). For a CORPUS-SIZED query relation (e.g.
    labeling every unlabeled row) False makes the join a cluster-keyed
    shuffle on both sides — the correct plan when neither side is
    small. The default (None) AUTO-GATES: the routed relation's
    plan-time size bound (nprobe × query-side Catalyst estimate) must
    fit the session's autoBroadcastJoinThreshold, so the corpus-sized
    caller is safe BY CONSTRUCTION instead of by knowing the knob
    (r14 verdict #3; un-stat'd plans estimate huge and fall to the
    shuffle side — pin True to override).

    Shape: queries route to their `eff_nprobe` nearest centroids
    in-plan (no driver-side query collect), the (qid, cluster) routing
    relation joins the cluster-partitioned assignments —
    each assignment partition is read at most once no matter how many
    queries probe it — and a per-qid window takes the top k. Returns
    (qid, id, score) with score = exact cosine, ranked per query.
    """
    from deeplake_spark.operators.indexes import require_saved

    require_saved(index)
    config = config or SearchConfig()
    n_clusters = len(index.centroids)
    # single source of truth for probe sizing (r14 review: an inline
    # copy here would desync from ivf_search/_widened_nprobe and break
    # the pinned batch==stream==single-query equivalence)
    eff_nprobe = _base_nprobe(n_clusters, config)
    # per-query centroid ranking via the shared vectorized routing UDF
    # (centroids ride in the UDF closure — index metadata, KB-scale).
    # Projected to a column first, explode_outer + null filter after:
    # a plain explode would let InferFiltersFromGenerate push the UDF
    # into a scan-side filter and evaluate it twice (traps 2/3).
    routed = (
        queries.select(F.col(qid_col).alias("__qid"),
                       F.col(qvec_col).alias("__qv"))
        .withColumn("__route", _route_clusters(
            index.centroids, eff_nprobe)(F.col("__qv")))
        .select("__qid", "__qv",
                F.explode_outer("__route").alias("cluster"))
        .filter(F.col("cluster").isNotNull())
    )
    if broadcast_queries is None:
        broadcast_queries = _auto_broadcast_queries(
            queries, qid_col, qvec_col, eff_nprobe)
    routed_side = F.broadcast(routed) if broadcast_queries else routed
    scored = (
        index.assignments.join(routed_side, "cluster")
        .select(
            "__qid",
            F.col(index.id_col),
            F.round(cosine_similarity(F.col(index.vec_col), F.col("__qv")), 6)
            .alias("score"),
        )
    )
    w = Window.partitionBy("__qid").orderBy(F.desc("score"), index.id_col)
    return (
        scored.withColumn("__rnk", F.row_number().over(w))
        .filter(F.col("__rnk") <= k)
        .select(F.col("__qid").alias(qid_col), index.id_col, "score")
    )


# ---------------------------------------------------------------------------
# Binary-quantized search (ClusteredQuantized / BinaryQuantization)


@dataclass
class QuantizedIndex:
    """ClusteredQuantized stored index (reference types.pyi:625-632):
    the 1-bit sign quantization persists as a narrow (id, bits) side
    table, so probes scan packed bits instead of re-quantizing the
    corpus per query. Rerank reads the live dataset relation."""

    bits: DataFrame  # id_col, bits (array<int>, one sign bit per dim)
    source: DataFrame  # id_col, vec_col — live relation for exact rerank
    vec_col: str
    id_col: str
    #: see IVFIndex.n_rows_est (row-group-pruned rerank gate)
    n_rows_est: int | None = None

    def save(self, path: str, mode: str = "overwrite") -> None:
        """The bits table + manifest meta; mode="append" adds a delta
        (sign-quantize ONLY the new rows: build over them, then save)."""
        from deeplake_spark.operators.indexes import counted, write_side_table

        write_side_table(path, {"bits": (self.bits, None)}, counted(
            "bits", {"vec_col": self.vec_col, "id_col": self.id_col}), mode)

    @classmethod
    def load(cls, spark, path: str, source: DataFrame) -> "QuantizedIndex":
        from deeplake_spark.operators.indexes import read_side_table

        bits, meta = read_side_table(spark, path, "bits")
        return cls(bits=bits,
                   source=source.select(meta["id_col"], meta["vec_col"]),
                   vec_col=meta["vec_col"], id_col=meta["id_col"],
                   n_rows_est=meta.get("n"))


def build_quantized(df: DataFrame, vec_col: str = "embedding",
                    id_col: str = "vec_id") -> QuantizedIndex:
    return QuantizedIndex(
        bits=df.select(id_col, sign_bits(f"`{vec_col}`").alias("bits")),
        source=df.select(id_col, vec_col),
        vec_col=vec_col,
        id_col=id_col,
    )


def _rerank_scan(index, cand: DataFrame, prune: bool = True) -> DataFrame:
    """The rerank stage's corpus relation, row-group-pruned to the
    candidates' id ranges when that's sound and cheap: the candidate
    set is k*accuracy_factor ids from the NARROW side table, so
    summarizing it at plan time is one bounded job, and the pushed
    ranges let parquet min/max skip the corpus row groups the rerank
    will never read — the reference's bitmap→chunk-read applied to its
    rerank (index_holder.hpp:37-40). Only with a persisted corpus size
    (without n the coverage gate can't tell there's nothing to skip —
    same rule as the JVM lane); the semijoin on top keeps the rerank
    exact either way. Every rerank probe (quantized, PQ, MAXSIM) passes
    here, so this is where an unsaved build is refused."""
    from deeplake_spark.operators.indexes import (
        prune_scan_to_ids,
        require_saved,
    )

    require_saved(index)
    if index.source is None:
        # fail HERE with the reason, not at the caller's .join on None
        # (r14 review: the old `return index.source` was a disguised
        # crash path)
        raise ValueError(
            "index has no source relation bound — load it against the "
            "live dataset (rebind at load time) before searching")
    if not prune or index.n_rows_est is None:
        return index.source
    return prune_scan_to_ids(index.source, cand, index.id_col,
                             index.n_rows_est, ids_col=index.id_col)


def _cand_ids(candidates: DataFrame, id_col: str) -> DataFrame:
    """Normalize a caller's candidate relation to ONE distinct column
    named `id_col` for the left-semi prune. Accepts either (a) a
    relation that CARRIES `id_col` in any position — select it
    (renaming the first column would collide with the existing id_col
    and raise on a duplicate, r14 advice #4) — or (b) a 1-column
    relation of any name (the ivf_search/pq_search contract —
    renamed). A wider relation WITHOUT the id col is ambiguous: raise
    with the fix instead of silently picking a column."""
    if id_col in candidates.columns:
        return candidates.select(id_col).distinct()
    if len(candidates.columns) == 1:
        return candidates.withColumnRenamed(
            candidates.columns[0], id_col).distinct()
    raise ValueError(
        f"candidates must be a 1-column row-id relation or carry "
        f"'{id_col}'; got columns {candidates.columns}")


def quantized_index_search(index: QuantizedIndex, query_vec, k: int = 10,
                           config: SearchConfig | None = None,
                           candidates: DataFrame | None = None) -> DataFrame:
    """Probe the STORED sign bits: Hamming prefilter to
    k*accuracy_factor over the narrow bits table (integer ops, no
    corpus re-quantize), exact cosine rerank on the candidates only."""
    from deeplake_spark.functions.vector import hamming_distance

    config = config or SearchConfig()
    bits = index.bits
    if candidates is not None:
        # normalize to one id_col column (the ivf_search/pq_search
        # contract, r14 review; carry-or-rename guard, r14 advice #4)
        bits = bits.join(_cand_ids(candidates, index.id_col),
                         index.id_col, "left_semi")
    from deeplake_spark.functions.vector import _sign_bits_sql, literal_vec_sql
    qbits = _sign_bits_sql(literal_vec_sql(query_vec))
    cand = (
        bits.select(index.id_col,
                    hamming_distance("bits", qbits).alias("__ham"))
        .orderBy(F.asc("__ham"), index.id_col)
        .limit(k * config.accuracy_factor)
        .select(index.id_col)
    )
    rerank = _rerank_scan(index, cand, prune=candidates is None).join(
        F.broadcast(cand), index.id_col, "left_semi")
    return topk_cosine(rerank, index.vec_col, query_vec, k=k, id_col=index.id_col)


def quantized_search(df: DataFrame, vec_col: str, query_vec, k: int = 10,
                     id_col: str = "vec_id",
                     config: SearchConfig | None = None,
                     candidates: DataFrame | None = None) -> DataFrame:
    """Two-stage: Hamming distance on sign bits prefilters to
    k*accuracy_factor candidates (cheap integer ops), exact cosine
    reranks the candidates (reference rerank path, types.pyi:71-126).
    `candidates` restricts to a filtered row-id set (see ivf_search)."""
    from deeplake_spark.functions.vector import hamming_distance

    config = config or SearchConfig()
    if candidates is not None:
        df = df.join(_cand_ids(candidates, id_col), id_col, "left_semi")
    from deeplake_spark.functions.vector import _sign_bits_sql, literal_vec_sql
    n_cand = k * config.accuracy_factor
    cands = (
        df.select(
            id_col, vec_col,
            hamming_distance(_sign_bits_sql(f"`{vec_col}`"),
                             _sign_bits_sql(literal_vec_sql(query_vec)))
            .alias("__ham"),
        )
        .orderBy(F.asc("__ham"), id_col)
        .limit(n_cand)
    )
    return topk_cosine(cands, vec_col, query_vec, k=k, id_col=id_col)


# ---------------------------------------------------------------------------
# Product quantization (flat ADC; Jégou, Douze, Schmid 2011 — the
# standard memory-bound ANN scale path beyond 1-bit sign quantization)


@dataclass
class PQIndex:
    """Product-quantized embedding index: each vector splits into `m`
    subvectors, each encoded as the id of its nearest subspace centroid
    (per-subspace k-means codebooks). The persisted side table is
    (id, code[m], anorm) — m small ints plus the precomputed norm of
    the reconstruction — so a probe scans a table ~(4*dim/m)x narrower
    than the raw vectors and never touches them until the rerank.
    The reference stores quantized embedding index kinds
    (python/deeplake/types.pyi:625-632); PQ extends that family."""

    codes: DataFrame  # id_col, code (array<int>), anorm (double)[, cluster]
    codebooks: list  # [m][ksub][sub_dim] floats
    source: DataFrame | None  # live relation for exact rerank
    vec_col: str
    id_col: str
    centroids: list | None = None  # coarse quantizer → IVF-PQ cluster prune
    #: see IVFIndex.n_rows_est (row-group-pruned rerank gate)
    n_rows_est: int | None = None

    def save(self, path: str, mode: str = "overwrite") -> None:
        """The codes table (PARTITIONED BY cluster for IVF-PQ) +
        the codebooks in the manifest meta."""
        from deeplake_spark.operators.indexes import counted, write_side_table

        write_side_table(path, {"codes": (self.codes, (
            "cluster" if self.centroids is not None else None))},
            counted("codes", {"codebooks": self.codebooks,
                              "vec_col": self.vec_col, "id_col": self.id_col,
                              "centroids": self.centroids}), mode)

    @classmethod
    def load(cls, spark, path: str,
             source: DataFrame | None = None) -> "PQIndex":
        from deeplake_spark.operators.indexes import read_side_table

        codes, meta = read_side_table(spark, path, "codes")
        cents = meta.get("centroids")
        return cls(
            codes=codes,
            codebooks=meta["codebooks"],
            source=(source.select(meta["id_col"], meta["vec_col"])
                    if source is not None else None),
            vec_col=meta["vec_col"],
            id_col=meta["id_col"],
            centroids=[(int(c), v) for c, v in cents] if cents else None,
            n_rows_est=meta.get("n"),
        )

    def delta(self, new_df: DataFrame) -> "PQIndex":
        """Delta maintenance: encode ONLY the new rows with the existing
        codebooks — and assign them to the existing coarse centroids
        when the index is IVF-PQ. Saved with mode="append", codebooks,
        centroids and prior code files stay untouched (re-training
        only on an explicit create_index, like IVF)."""
        base = new_df.select(self.id_col, self.vec_col)
        extra: list[str] = []
        if self.centroids is not None:
            base = assign_to_centroids(base, self.vec_col, self.centroids)
            extra = ["cluster"]
        codes = _pq_code_cols(_pq_encoder(self.codebooks), base,
                              self.vec_col, self.id_col, extra)
        return PQIndex(codes, self.codebooks, None, self.vec_col,
                       self.id_col, self.centroids)


def _pq_encoder(codebooks: list):
    from deeplake_spark.functions.vector import pq_encode_pandas

    return pq_encode_pandas(codebooks)


def _pq_code_cols(enc, df: DataFrame, vec_col: str, id_col: str,
                  extra: list[str] = ()) -> DataFrame:
    return df.select(
        id_col, *extra, enc(F.col(vec_col).cast("array<double>")).alias("__e")
    ).select(id_col, *extra, F.col("__e.code").alias("code"),
             F.col("__e.anorm").alias("anorm"))


def _kmeans_np(X, k: int, iters: int, rng):
    """Driver-side Lloyd iterations on an in-memory training sample —
    the codebooks are index METADATA (m * 2^nbits * sub_dim floats),
    and training them on a bounded sample is the standard PQ protocol
    (FAISS trains on ~10-100k sampled vectors regardless of corpus
    size). Vectorized argmin via ||x||^2 + ||c||^2 - 2 x.c."""
    import numpy as np

    if len(X) <= k:
        pad = np.zeros((k - len(X) + 1, X.shape[1]))
        X = np.vstack([X, pad])[:k + 1]
    C = X[rng.choice(len(X), size=k, replace=False)].copy()
    for _ in range(iters):
        d = (X * X).sum(1)[:, None] + (C * C).sum(1)[None, :] - 2.0 * (X @ C.T)
        a = d.argmin(1)
        for j in range(k):
            pts = X[a == j]
            if len(pts):
                C[j] = pts.mean(0)
    return C


def build_pq(df: DataFrame, vec_col: str = "embedding",
             id_col: str = "vec_id", m: int = 8, nbits: int = 4,
             seed: int = 42, max_iter: int = 10,
             train_limit: int = 20_000,
             n_clusters: int = 0, config=None) -> PQIndex:
    """Train per-subspace codebooks and encode the corpus. Codebooks
    train driver-side on a bounded in-memory sample (`train_limit`
    rows — the FAISS protocol: codebook quality saturates at tens of
    thousands of training vectors regardless of corpus size), so the
    only corpus-sized work is the Arrow-batched encode pass.

    `n_clusters > 0` adds a coarse quantizer (IVF-PQ): codes carry a
    cluster column and persist PARTITIONED BY it, so a probe reads only
    `nprobe` directories of the already-narrow codes table — the
    FAISS-style IVFADC layout. Codes quantize the raw vectors (not the
    residuals): one shared LUT serves every cluster and delta appends
    need no per-cluster state; the exact rerank absorbs the recall
    difference at the accuracy factors we ship."""
    import numpy as np

    if config is not None:
        # IndexBuildConfig scales BOTH the codebook training sample and
        # the k-means refinement passes (the two levers of PQ quality)
        train_limit = max(ksub_min := 1 << nbits, int(train_limit * config.build_multiplier))
        max_iter = max(1, int(round(max_iter * config.build_multiplier)))
    drow = df.select(F.size(F.col(vec_col)).alias("d")).head()
    if drow is None:
        raise ValueError("empty corpus: nothing to train PQ codebooks on")
    dim = drow["d"]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub_dim = dim // m
    ksub = 1 << nbits

    sample = np.asarray([
        np.asarray(r[0], dtype=np.float64)
        for r in df.select(F.col(vec_col).cast("array<double>"))
        .limit(train_limit).collect()
    ])
    rng = np.random.default_rng(seed)
    codebooks = [
        [[float(x) for x in c]
         for c in _kmeans_np(sample[:, j * sub_dim:(j + 1) * sub_dim],
                             ksub, max_iter, rng)]
        for j in range(m)
    ]

    centroids = None
    base = df
    extra: list[str] = []
    if n_clusters > 0:
        coarse = build_ivf(df, vec_col=vec_col, id_col=id_col,
                           n_clusters=n_clusters, seed=seed, max_iter=max_iter)
        centroids = coarse.centroids
        base = coarse.assignments  # id_col, vec_col, cluster
        extra = ["cluster"]

    enc = _pq_encoder(codebooks)
    codes = _pq_code_cols(enc, base, vec_col, id_col, extra)
    return PQIndex(codes=codes, codebooks=codebooks,
                   source=df.select(id_col, vec_col),
                   vec_col=vec_col, id_col=id_col, centroids=centroids)


def pq_search(index: PQIndex, query_vec, k: int = 10,
              config: SearchConfig | None = None,
              candidates: DataFrame | None = None,
              metric: str = "cosine",
              candidate_selectivity: float | None = None) -> DataFrame:
    """Asymmetric-distance probe: the query builds an m x 2^nbits dot
    lookup table driver-side (index metadata arithmetic, like the IVF
    centroid ranking); the scan scores each row as
    sum_j LUT[j][code_j] / (sqrt(anorm) * ||q||) — pure JVM expression
    over the narrow codes table, TakeOrdered to k*accuracy_factor,
    then exact cosine rerank against the live vectors. `candidates`
    restricts to a WHERE-prefiltered row set (filter+search,
    index_holder.hpp:30-36). With a coarse quantizer (IVF-PQ) the scan
    first prunes to the `nprobe` nearest cluster partitions — the
    same physical prune as ivf_search, on a far narrower table.
    `metric="l2"` ranks candidates by the ADC distance
    anorm - 2*approx_dot (||q||^2 is rank-constant) and reranks by
    exact L2 ascending."""
    import numpy as np

    config = config or SearchConfig()
    q = np.asarray(list(query_vec), dtype=np.float64)
    qnorm = float(np.linalg.norm(q)) or 1e-30
    m = len(index.codebooks)
    sub_dim = len(index.codebooks[0][0])
    luts = [
        [float(np.dot(q[j * sub_dim:(j + 1) * sub_dim], np.asarray(c)))
         for c in index.codebooks[j]]
        for j in range(m)
    ]
    codes = index.codes
    if index.centroids is not None:
        # coarse prune, mirroring ivf_search's eff_nprobe policy
        dists = [(cid, float(np.linalg.norm(np.asarray(c) - q)))
                 for cid, c in index.centroids]
        n_clusters = len(index.centroids)
        eff_nprobe = _widened_nprobe(
            n_clusters, config,
            candidate_selectivity if candidates is not None else None)
        probe = [cid for cid, _ in sorted(dists, key=lambda t: t[1])[:eff_nprobe]]
        codes = codes.filter(F.col("cluster").isin(probe))
    if candidates is not None:
        codes = codes.join(_cand_ids(candidates, index.id_col),
                           index.id_col, "left_semi")
    approx_dot = sum(
        (F.element_at(F.array(*[F.lit(v) for v in luts[j]]),
                      F.col("code")[j] + 1)
         for j in range(m)),
        start=F.lit(0.0),
    )
    if metric == "l2":
        score = F.col("anorm") - 2.0 * approx_dot
        order = [F.asc("__pq"), index.id_col]
    else:
        score = approx_dot / (F.sqrt(F.greatest(F.col("anorm"), F.lit(1e-30)))
                              * F.lit(qnorm))
        order = [F.desc("__pq"), index.id_col]
    fetch = k * config.accuracy_factor
    cand = (
        codes.select(index.id_col, score.alias("__pq"))
        .orderBy(*order)
        .limit(fetch)
        .select(index.id_col)
    )
    if index.source is None:
        return cand
    rerank = _rerank_scan(index, cand, prune=candidates is None).join(
        F.broadcast(cand), index.id_col, "left_semi")
    if metric == "l2":
        return topk_l2(rerank, index.vec_col, query_vec, k=k,
                       id_col=index.id_col)
    return topk_cosine(rerank, index.vec_col, query_vec, k=k,
                       id_col=index.id_col)


def _band_hash_array(bands: int, rows: int, bits_col: str = "__bits") -> Column:
    """array of per-band sign-bit hashes as ONE parsed expression. The
    chained F.hash(*[F.element_at(...)]) construction costs ~3 py4j
    round trips per element — bands*rows of them, all driver-side
    (dedup.bit_vote_sums documents the measured cost of this pattern);
    the parsed expr yields the identical JVM plan for one call."""
    bands_sql = ",".join(
        "hash(" + ",".join(f"element_at({bits_col}, {b * rows + j + 1})"
                           for j in range(rows)) + ")"
        for b in range(bands))
    return F.expr(f"array({bands_sql})")


def near_dup_pairs_lsh(df: DataFrame, vec_col: str = "embedding",
                       id_col: str = "vec_id", threshold: float = 0.99,
                       bands: int = 8, dim: int | None = None,
                       bucket_cap: int | None = 100_000) -> DataFrame:
    """Embedding-cosine near-dup pairs via sign-bit LSH banding — the
    100 TB-safe candidate generator (same shape as MinHash LSH in
    dedup.lsh_candidate_pairs: band → bucket-join → verify-exact).

    Sign bits are axis-aligned random-hyperplane LSH: two vectors with
    cosine >= 0.99 agree on almost every dimension's sign, so at least
    one of the `bands` contiguous sign-bit bands collides with
    probability ~1 — a pair differing in f of `dim` signs misses only
    if every band contains a flipped bit, which is IMPOSSIBLE for
    f < bands (cos 0.99 at dim 64 flips ~3 signs; bands=8 still
    guarantees those collide). The shuffle key is the band hash; pair
    fan-out is proportional to true collisions, never O(N²/num_blocks)
    like semantic-key blocking.

    `bucket_cap` drops degenerate buckets (e.g. the all-positive
    quadrant of near-constant embeddings) — near-dup pairs collide in
    ~bands*(1-f/dim) other bands, so dropping one oversized bucket
    keeps recall; set None to disable."""
    if dim is None:
        row = df.select(vec_col).head()
        if row is None:
            raise ValueError(
                "empty corpus: cannot sniff the embedding dimension — "
                "pass dim= explicitly or provide rows")
        dim = len(row[0])
    if dim < bands:
        # rows-per-band would be clamped to 1 and the band hash would
        # index PAST the bit array — an ANSI INVALID_ARRAY_INDEX mid-
        # executor instead of a diagnosable error (r14 review)
        raise ValueError(
            f"bands={bands} exceeds the embedding dimension {dim}; "
            "use bands <= dim")
    rows = max(1, dim // bands)
    # tracked persist (the d03 posting-relation convention): the
    # prepared (id, vec, norm, sign-bits) relation feeds the banding
    # subtree (itself consumed by the bucket-cap aggregate and BOTH
    # candidate join sides) plus the two verify sides — five consumers
    # that join on DIFFERENT keys, so neither static nor AQE exchange
    # reuse ever fires (trap 27; the executed v08 plan ran 24 scans /
    # 6 sign-bit passes with 2 ReusedExchange). One fill at first
    # action; at 100 TB this is the persisted signature side table of
    # the embedding index, exactly like d03's posting relation.
    from deeplake_spark.operators.dedup import _track

    base = _track(df.select(
        F.col(id_col),
        F.col(vec_col),
        l2_norm(f"`{vec_col}`").alias("__norm"),
        sign_bits(f"`{vec_col}`").alias("__bits"),
    ))
    # band hash = hash over the band's sign bits as flat args:
    # element_at args compile ~6x cheaper than slice+cast chains
    # (perf trap 6) and stay one whole-stage-codegen expression
    banded = base.select(
        F.col(id_col),
        F.posexplode(_band_hash_array(bands, rows)).alias("band", "bh"),
    )
    if bucket_cap:
        ok = (
            banded.groupBy("band", "bh")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") <= bucket_cap)
            .select("band", "bh")
        )
        banded = banded.join(ok, ["band", "bh"], "left_semi")
    a = banded.select(F.col(id_col).alias("a"), "band", "bh")
    b = banded.select(F.col(id_col).alias("b"), "band", "bh")
    cands = (
        a.join(b, ["band", "bh"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    va = base.select(
        F.col(id_col).alias("a"), F.col(vec_col).alias("__va"), F.col("__norm").alias("__na")
    )
    vb = base.select(
        F.col(id_col).alias("b"), F.col(vec_col).alias("__vb"), F.col("__norm").alias("__nb")
    )
    sim = dot("__va", "__vb") / F.nullif(F.col("__na") * F.col("__nb"), F.lit(0.0))
    return cands.join(va, "a").join(vb, "b").filter(sim >= threshold).select("a", "b")


# ---------------------------------------------------- pooled MAXSIM index


@dataclass
class PooledMaxsimIndex:
    """EmbeddingsMatrixIndex(PooledQuantized) (types.pyi:136,604-615;
    nd/norm.hpp:43-49 maxsim_pooled/mean_pool_rows): each doc matrix is
    mean-pooled to one vector; queries prefilter on pooled cosine, then
    exact-MAXSIM rerank only the candidates."""

    pooled: DataFrame  # id_col, pooled (array<double>)
    source: DataFrame  # id_col, matrix_col
    id_col: str
    matrix_col: str
    #: see IVFIndex.n_rows_est (row-group-pruned rerank gate)
    n_rows_est: int | None = None

    def save(self, path: str, mode: str = "overwrite") -> None:
        """Persist the pooled-vector prefilter table + manifest meta
        (mode="append": pool ONLY the new rows, then save). The source
        matrices are NOT copied — at load time the rerank stage
        rebinds to the live dataset relation (index stores derived
        data only, like the reference's PooledQuantized stored index,
        types.pyi:604-615)."""
        from deeplake_spark.operators.indexes import counted, write_side_table

        write_side_table(path, {"pooled": (self.pooled, None)}, counted(
            "pooled", {"matrix_col": self.matrix_col,
                       "id_col": self.id_col}), mode)

    @classmethod
    def load(cls, spark, path: str, source: DataFrame) -> "PooledMaxsimIndex":
        """`source` is the relation holding the matrix column (the
        dataset's current snapshot) — rerank joins it against
        pooled-prefilter hits."""
        from deeplake_spark.operators.indexes import read_side_table

        pooled, meta = read_side_table(spark, path, "pooled")
        return cls(pooled=pooled,
                   source=source.select(meta["id_col"], meta["matrix_col"]),
                   id_col=meta["id_col"], matrix_col=meta["matrix_col"],
                   n_rows_est=meta.get("n"))


def build_pooled_maxsim(df: DataFrame, matrix_col: str, id_col: str) -> PooledMaxsimIndex:
    """mean_pool_rows as a pure expression: elementwise mean across the
    matrix rows (reduce with zip_with, divide by row count)."""
    m = F.col(matrix_col)
    summed = F.reduce(
        m,
        F.transform(F.element_at(m, 1), lambda x: x.cast("double") * 0.0),
        lambda acc, row: F.zip_with(acc, row, lambda a, x: a + x),
    )
    pooled = F.transform(summed, lambda s: s / F.size(m))
    # an empty matrix has no rows to pool (and element_at(m, 1) on it
    # RAISES under ANSI mode, failing the whole build — r14 review);
    # such documents can never match MAXSIM, so they simply stay out
    # of the prefilter table
    nonempty = df.filter(F.size(m) > 0)
    return PooledMaxsimIndex(
        pooled=nonempty.select(id_col, pooled.alias("pooled")),
        source=df.select(id_col, matrix_col),
        id_col=id_col,
        matrix_col=matrix_col,
    )


def maxsim_search(index: PooledMaxsimIndex, query_matrix: list, k: int = 10,
                  config: SearchConfig | None = None,
                  candidates: DataFrame | None = None) -> DataFrame:
    """Two-stage MAXSIM: pooled-cosine prefilter to k*accuracy_factor,
    exact late-interaction rerank (pandas UDF) on candidates only.

    `candidates` (an id relation) restricts the search to a WHERE-
    prefiltered subset (filter+search, index_holder.hpp:30-36)."""
    import numpy as np

    from deeplake_spark.functions.vector import maxsim_pandas_const

    config = config or SearchConfig()
    qm = np.asarray(query_matrix, dtype=np.float64)
    q_pooled = qm.mean(axis=0)
    pooled = index.pooled
    if candidates is not None:
        # carry-or-rename normalization (ivf_search contract; r14
        # review + advice #4)
        pooled = pooled.join(_cand_ids(candidates, index.id_col),
                             index.id_col, "left_semi")
    cands = (
        topk_cosine(pooled, "pooled", q_pooled.tolist(),
                    k=k * config.accuracy_factor, id_col=index.id_col)
        .select(index.id_col)
    )
    maxsim = maxsim_pandas_const(qm)
    return (
        _rerank_scan(index, cands, prune=candidates is None)
        .join(cands, index.id_col, "left_semi")
        .select(
            index.id_col,
            F.round(maxsim(F.col(index.matrix_col)), 6).alias("maxsim_score"),
        )
        .orderBy(F.desc("maxsim_score"), index.id_col)
        .limit(k)
    )


def cross_near_dup_lsh(df_a: DataFrame, df_b: DataFrame,
                       vec_col: str = "embedding", id_col: str = "vec_id",
                       threshold: float = 0.99, bands: int = 8,
                       dim: int | None = None,
                       bucket_cap: int | None = 100_000) -> DataFrame:
    """Cross-dataset embedding near-dup pairs (A x B, cosine >=
    threshold) — the semantic analog of n-gram decontamination
    (dedup.contamination_hits): find corpus rows that are embedding-
    near-duplicates of an eval/benchmark set, the train-test-leakage
    sweep of a training pipeline.

    Same sign-bit LSH banding as near_dup_pairs_lsh, but the bucket
    join is A-side against B-side, so candidate volume tracks true
    cross collisions — never the |A| x |B| cross product. Returns
    (a, b, cos) with the exact verified cosine."""
    if dim is None:
        row = df_a.select(vec_col).head()
        if row is None:
            raise ValueError(
                "empty A-side corpus: cannot sniff the embedding "
                "dimension — pass dim= explicitly")
        dim = len(row[0])
    if dim < bands:
        raise ValueError(
            f"bands={bands} exceeds the embedding dimension {dim}; "
            "use bands <= dim")
    rows = max(1, dim // bands)

    def prep(df: DataFrame, side: str):
        # tracked persist, same rationale as near_dup_pairs_lsh: each
        # side's prepared relation feeds its banding subtree AND its
        # verify join (B additionally feeds the bucket-cap aggregate) —
        # different join keys, no exchange reuse (trap 27)
        from deeplake_spark.operators.dedup import _track

        base = _track(df.select(
            F.col(id_col).alias(side),
            F.col(vec_col).alias(f"__v{side}"),
            l2_norm(f"`{vec_col}`").alias(f"__n{side}"),
            sign_bits(f"`{vec_col}`").alias("__bits"),
        ))
        banded = base.select(
            F.col(side),
            F.posexplode(_band_hash_array(bands, rows)).alias("band", "bh"),
        )
        return base.drop("__bits"), banded

    base_a, banded_a = prep(df_a, "a")
    base_b, banded_b = prep(df_b, "b")
    if bucket_cap:
        # cap on the (usually larger) corpus side: degenerate buckets
        # there are what explode the candidate count
        ok = (
            banded_b.groupBy("band", "bh")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") <= bucket_cap)
            .select("band", "bh")
        )
        banded_b = banded_b.join(ok, ["band", "bh"], "left_semi")
    cands = (
        banded_a.join(banded_b, ["band", "bh"])
        .select("a", "b")
        .distinct()
    )
    sim = dot("__va", "__vb") / F.nullif(
        F.col("__na") * F.col("__nb"), F.lit(0.0))
    # threshold on the UNROUNDED cosine (a rounded filter admits pairs
    # in [t-5e-7, t) that an exact oracle excludes); round only the
    # projected output
    return (
        cands.join(base_a, "a").join(base_b, "b")
        .filter(sim >= threshold)
        .select("a", "b", F.round(sim, 6).alias("cos"))
    )


# ---------------------------------------------------- semantic dedup


def seed_centroids(df: DataFrame, vec_col: str = "embedding",
                   id_col: str = "vec_id", k: int = 8) -> list:
    """Deterministic centroid seeding: the ``k`` rows with the smallest
    ids, enumerated as ``[(0, vec0), (1, vec1), ...]``. A bounded
    TakeOrderedAndProject collect (k rows to the driver — the DATA()
    static-prefetch protocol, cpp/tql/input.hpp:89-107), so runs are
    reproducible and exactly oracle-checkable. Production pipelines pass
    k-means centroids instead (``build_ivf(...).centroids`` has them);
    the semantics downstream are identical.
    """
    rows = df.orderBy(id_col).select(vec_col).limit(k).collect()
    return [(i, [float(v) for v in r[0]]) for i, r in enumerate(rows)]


def assign_to_centroids_cosine(df: DataFrame, vec_col: str, centroids: list,
                               cluster_col: str = "cluster",
                               sim_col: str = "centroid_sim") -> DataFrame:
    """Max-cosine centroid assignment as one map-only projection (the
    cosine twin of ``assign_to_centroids``): per row, argmax cosine over
    the broadcast-small centroid literals; ties break to the smallest
    centroid id via a struct-ordered ``array_max`` (no shuffle, no
    window). Adds ``cluster`` (int) and ``centroid_sim`` (double).

    The whole argmax is ONE parsed SQL expression: the chained-Column
    spelling costs k*(dim+6) py4j round trips at plan-build time
    (measured 1.6s of DRIVER time for k=8, dim=64 — perf trap 12);
    the parsed expr yields the identical JVM plan for one call. The
    arithmetic mirrors functions.vector.dot/l2_norm fold-for-fold
    (left fold from 0.0), and centroid norms are constant-folded in
    Python with the same left fold, so results are bit-identical to
    the HOF spelling and to the DuckDB oracle. The final destructure
    goes through an ``inline_outer`` generator rather than two struct
    field projections: a Generate node stops CollapseProject from
    inlining the k*dim-literal argmax into every downstream consumer
    (measured ~0.5s of Catalyst time per semantic_dedup query;
    ``_outer`` avoids the trap-2 constraint-inference duplication).
    (A 1-row broadcast relation carrying the centroid matrix was also
    tried — it strips the literals from the plan but leaves every
    downstream join stats-blind, and the pair join then degrades off
    the broadcast path: measured 5.4s vs 1.9s. Literals keep
    Catalyst's estimates intact.)
    """
    import math

    def dlit(x: float) -> str:
        # CAST('<repr>' AS DOUBLE) round-trips the exact double (a bare
        # SQL decimal literal would parse as DECIMAL under ANSI mode)
        return f"CAST('{float(x)!r}' AS DOUBLE)"

    sims = []
    for cid, c in centroids:
        arr = "array(" + ",".join(dlit(x) for x in c) + ")"
        acc = 0.0
        for x in c:
            acc += float(x) * float(x)
        cnorm = math.sqrt(acc)
        sims.append(
            "named_struct('s', "
            "aggregate(zip_with(__sdv, " + arr + ", (x, y) -> x * y), "
            "0.0D, (acc, x) -> acc + x) / "
            f"nullif(__sdn * {dlit(cnorm)}, 0.0D), 'nc', {-int(cid)})"
        )
    best = f"array_max(array({','.join(sims)}))"
    return (
        df.selectExpr("*", f"CAST(`{vec_col}` AS ARRAY<DOUBLE>) AS __sdv")
        .selectExpr(
            "*", "sqrt(aggregate(__sdv, 0.0D, (acc, x) -> acc + x * x)) AS __sdn")
        .selectExpr("*", f"{best} AS __best")
        .selectExpr(
            "*",
            f"inline_outer(array(named_struct('{cluster_col}', -__best.nc, "
            f"'{sim_col}', __best.s)))")
        .drop("__sdv", "__sdn", "__best")
    )


def semantic_dedup(df: DataFrame, vec_col: str = "embedding",
                   id_col: str = "vec_id", centroids: list | None = None,
                   n_clusters: int = 8, tau: float = 0.95,
                   policy: str = "pairwise") -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus in embedding space, then
    inside each cluster drop semantic duplicates (pairs with cosine >=
    ``tau``), keeping the member MOST diverse w.r.t. its cluster — the
    lowest cosine-to-centroid survives (the paper's keeper rule; ids
    break exact ties). Beyond-reference LLM-pipeline operator; the
    reference's closest machinery is the Clustered embedding index
    (types.pyi:145), which this reuses for the cluster step.

    Returns ``df`` with three added columns: ``cluster`` (int),
    ``centroid_sim`` (double), ``kept`` (boolean).

    policy="pairwise" (default, exactly SQL-checkable): x is dropped
    iff SOME same-cluster y with cos(x,y) >= tau dominates it
    (centroid_sim(y) < centroid_sim(x), ties to smaller id). On a
    clique of mutual duplicates this keeps exactly the most-diverse
    member; on a CHAIN a--b--c (a,c not within tau of each other) it
    keeps both endpoints — local pairwise evidence only.

    policy="components" (the paper's grouping): duplicate groups are
    connected components of the >=tau graph within a cluster (reuses
    operators.dedup.connected_components), one keeper per component by
    the same (centroid_sim, id) rule — on the chain above exactly one
    of a/b/c survives. Iterative (O(diameter) rounds), so no SQL
    oracle; batch-equivalence with pairwise on clique-shaped planted
    duplicates is pinned in tests.

    Scale shape: assignment is map-only against broadcast centroid
    literals; the duplicate join shuffles both sides on ``cluster``
    only, so pair work is O(sum of cluster_size^2) — the SemDeDup cost
    model. At corpus scale, grow ``n_clusters`` proportionally (the
    paper uses 50k clusters for LAION-440M) to bound cluster sizes;
    skewed clusters split under AQE skew-join like any keyed self-join.
    No global window, no driver-side pair loop; the only collect is the
    k-row centroid seed (or none, when centroids are passed in).

    The literal-argmax assignment is the deterministic, oracle-checkable
    lane and caps out around a few hundred centroids (k*dim literal
    leaves are Catalyst-visible). For production cluster counts use
    ``semantic_dedup_indexed`` over a built/persisted IVF index.
    """
    from deeplake_spark.io import ensure_parallelism

    if centroids is None:
        centroids = seed_centroids(df, vec_col, id_col, k=n_clusters)
    if not centroids:
        # empty corpus (or explicit no-clusters): nothing can be a
        # duplicate; keep the output schema stable instead of letting
        # array_max(array()) type as VOID and fail analysis cryptically
        return (df.withColumn("cluster", F.lit(None).cast("int"))
                .withColumn("centroid_sim", F.lit(None).cast("double"))
                .withColumn("kept", F.lit(True)))
    assigned = assign_to_centroids_cosine(
        ensure_parallelism(df), vec_col, centroids)
    return _prune_semantic_dups(assigned, vec_col, id_col, tau, policy)


def semantic_dedup_indexed(index: IVFIndex, tau: float = 0.95,
                           policy: str = "pairwise") -> DataFrame:
    """SemDeDup over a built/persisted IVF index — the production-scale
    lane of ``semantic_dedup``. The cluster step is the index's own
    k-means assignment (the paper's actual clustering); centroid_sim is
    ONE cosine per row against the broadcast-joined centroid (no k-wide
    argmax, no literal centroids in the plan), so cluster counts scale
    to the paper's 50k+ while the pruning machinery stays identical to
    the literal lane (same keeper rule, same policies — pinned shared).

    Returns (id_col, vec_col, cluster, centroid_sim, kept)."""
    spark = index.assignments.sparkSession
    cent = spark.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in index.centroids],
        "cluster int, __cv array<double>")
    vec = f"cast(`{index.vec_col}` as array<double>)"
    csim = dot(vec, "__cv") / F.nullif(
        l2_norm(vec) * l2_norm("__cv"), F.lit(0.0))
    assigned = (
        index.assignments
        .join(F.broadcast(cent), "cluster")
        .withColumn("centroid_sim", csim)
        .drop("__cv")
    )
    return _prune_semantic_dups(
        assigned, index.vec_col, index.id_col, tau, policy)


def _prune_semantic_dups(assigned: DataFrame, vec_col: str, id_col: str,
                         tau: float, policy: str) -> DataFrame:
    """Shared within-cluster >=tau pruning for both semantic_dedup
    lanes: input must carry ``cluster`` and ``centroid_sim``; adds
    ``kept``.

    The assignment subtree is referenced three times (pair sides a/b +
    the final output join) and deliberately RECOMPUTES rather than
    checkpoints: it is a map-only JVM pass, and pinning it would pin
    the embedding vectors — corpus-sized state, unlike the ~300 B/row
    bit signatures bits_near_dup_pairs checkpoints. Three cheap scans
    beat one corpus-sized persist at the 100 TB shape this targets."""
    members = assigned.select(
        F.col(id_col).alias("__id"),
        F.col("cluster").alias("__cl"),
        F.col("centroid_sim").alias("__cs"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).withColumn("__n", l2_norm("__v"))
    # fully distinct names per side: same-name self-join refs
    # (a["__cl"] == b["__cl"]) silently degrade to a trivially-true
    # predicate under Spark's self-join disambiguation, turning the
    # keyed join into a per-cluster cross product over the whole corpus
    a = members.select(F.col("__id").alias("__ida"),
                       F.col("__cl").alias("__cla"),
                       F.col("__cs").alias("__csa"),
                       F.col("__v").alias("__va"), F.col("__n").alias("__na"))
    b = members.select(F.col("__id").alias("__idb"),
                       F.col("__cl").alias("__clb"),
                       F.col("__cs").alias("__csb"),
                       F.col("__v").alias("__vb"), F.col("__n").alias("__nb"))
    # pair cosine stays the HOF fold: an unrolled 64-term element_at
    # expression was MEASURED 3x slower here (1.5s vs 0.54s on 250k
    # pairs — the giant codegen tree ships ~1MB task binaries and
    # evaluates element_at type checks per term), the opposite of the
    # element_at-vs-slice compile trap (CLAUDE.md perf trap 6)
    cos = dot("__va", "__vb") / F.nullif(
        F.col("__na") * F.col("__nb"), F.lit(0.0))
    # the tau filter compares the UNROUNDED cosine (CLAUDE.md filter
    # discipline); nothing rounded is emitted from this subtree
    if policy == "pairwise":
        # dominance goes INTO the join condition: it's a cheap column
        # compare and strict (a tie requires __idb < __ida), so only
        # the dominated half of each pair ever evaluates the cosine
        dominated = (
            a.join(b, (F.col("__cla") == F.col("__clb")) & (
                (F.col("__csb") < F.col("__csa"))
                | ((F.col("__csb") == F.col("__csa"))
                   & (F.col("__idb") < F.col("__ida")))))
            .filter(cos >= tau)
            .select(F.col("__ida").alias("__dropped"))
            .distinct()
        )
    elif policy == "components":
        from deeplake_spark.operators.dedup import connected_components

        edges = (
            a.join(b, (F.col("__cla") == F.col("__clb"))
                   & (F.col("__ida") < F.col("__idb")))
            .filter(cos >= tau)
            .select(F.col("__ida").alias("a"), F.col("__idb").alias("b"))
        )
        cc = connected_components(edges, "a", "b")
        keepers = (
            cc.join(members.select(F.col("__id").alias("id"), "__cs"), "id")
            .groupBy("label")
            .agg(F.min(F.struct(F.col("__cs"), F.col("id"))).alias("__k"))
            .select(F.col("__k")["id"].alias("__keep"))
        )
        dominated = (
            cc.join(keepers, cc["id"] == keepers["__keep"], "left_anti")
            .select(F.col("id").alias("__dropped"))
        )
    else:
        raise ValueError(f"unknown policy: {policy!r}")
    return (
        assigned.join(
            dominated, assigned[id_col] == dominated["__dropped"], "left")
        .withColumn("kept", F.col("__dropped").isNull())
        .drop("__dropped")
    )


def bits_near_dup_pairs(hashed: DataFrame, bits_col: str, id_col: str,
                        max_hamming: int, bands: int,
                        nbits: int = 64) -> DataFrame:
    """Generic banded bit-signature near-dup: band ``nbits`` sign bits
    into ``bands`` bucket hashes → bucket-join candidates → exact
    Hamming verify (pure JVM). EXACT for ``max_hamming < bands`` by
    pigeonhole — a pair differing in h < bands bits always shares an
    all-equal band, so recall is 1 (guaranteed, not probabilistic)
    while candidate volume tracks true collisions. The shared engine
    behind image (pHash) and audio (spectral fingerprint) near-dup.
    Returns (a, b, hamming)."""
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming={max_hamming} needs max_hamming < bands={bands} "
            "for the exactness guarantee — raise bands instead")
    if nbits % bands:
        raise ValueError(
            f"bands={bands} must evenly divide nbits={nbits}")
    from deeplake_spark.functions.vector import hamming_distance

    # the upstream hash subtree is typically an EXPENSIVE Python decode
    # (pHash/audio/video fingerprints) and this plan references it from
    # four places (two banded sides + two verify sides) — pin the tiny
    # (id, nbits ints) projection once instead of decoding 3-4x. Safe
    # at any corpus size: ~300 B/row, unlike pinning payloads/vectors.
    base = hashed.select(F.col(id_col), F.col(bits_col)).localCheckpoint(
        eager=False)
    banded = base.select(
        F.col(id_col),
        F.posexplode(
            _band_hash_array(bands, nbits // bands, bits_col)
        ).alias("band", "bh"),
    )
    a = banded.select(F.col(id_col).alias("a"), "band", "bh")
    b = banded.select(F.col(id_col).alias("b"), "band", "bh")
    cands = (
        a.join(b, ["band", "bh"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    ha = base.select(F.col(id_col).alias("a"), F.col(bits_col).alias("__ba"))
    hb = base.select(F.col(id_col).alias("b"), F.col(bits_col).alias("__bb"))
    ham = hamming_distance(F.col("__ba"), F.col("__bb"))
    return (
        cands.join(ha, "a").join(hb, "b")
        .filter(ham <= max_hamming)
        .select("a", "b", ham.cast("int").alias("hamming"))
    )


def knn_label_propagation(df: DataFrame, vec_col: str = "embedding",
                          id_col: str = "vec_id", label_col: str = "label",
                          k: int = 5, index: IVFIndex | None = None,
                          config=None,
                          broadcast_queries: bool | None = None) -> DataFrame:
    """k-NN label propagation (auto-labeling): rows whose ``label_col``
    is NULL take the MAJORITY label of their k nearest labeled
    neighbors by cosine — the weak-supervision staple for propagating
    a small seed of human labels over a large corpus. Beyond-reference
    LLM-pipeline operator; composes the existing kNN machinery.

    Ties break deterministically: neighbor ranking by (rounded score
    DESC, neighbor id ASC) — the v06 convention, engine-exact — and
    the vote by (count DESC, label ASC).

    Lanes: exact (default) broadcasts the unlabeled queries against
    the labeled corpus (the v06 batched-kNN shape — oracle-checkable);
    pass ``index`` (an IVF index built over the LABELED subset) to
    route through ``ivf_search_batch`` instead — one pruned corpus
    pass for the whole query set, the corpus-scale lane (recall
    follows the index's presets; exactness tests pin lane agreement
    at full probe).

    Returns (id_col, pred_label, votes) for the unlabeled rows.
    """
    from deeplake_spark.io import ensure_parallelism

    # the exact lane evaluates one HOF cosine per (labeled x query)
    # row — a single-file scan would run them all on one core (trap 1)
    df = ensure_parallelism(df)
    labeled = df.filter(F.col(label_col).isNotNull())
    unlabeled = df.filter(F.col(label_col).isNull())
    queries = unlabeled.select(F.col(id_col).alias("__qid"),
                               F.col(vec_col).alias("__qv"))
    if index is not None:
        # broadcast_queries default None → ivf_search_batch's
        # size-estimate auto-gate decides (a corpus-sized unlabeled
        # set shuffles instead of broadcasting nprobe rows per query
        # with the vector attached); pin True/False to override
        neigh = (
            ivf_search_batch(index, queries, qvec_col="__qv",
                             qid_col="__qid", k=k, config=config,
                             broadcast_queries=broadcast_queries)
            .join(labeled.select(F.col(id_col),
                                 F.col(label_col).alias("__nl")), id_col)
            .select("__qid", "__nl")
        )
    else:
        scored = _exact_batch_cosine_scores(
            labeled, queries, vec_col, id_col, label_col)
        w = Window.partitionBy("__qid").orderBy(F.desc("__score"), id_col)
        neigh = (
            scored.withColumn("__rnk", F.row_number().over(w))
            .filter(F.col("__rnk") <= k)
            .select("__qid", "__nl")
        )
    votes = neigh.groupBy("__qid", "__nl").agg(
        F.count(F.lit(1)).alias("__votes"))
    vw = Window.partitionBy("__qid").orderBy(
        F.desc("__votes"), F.col("__nl"))
    return (
        votes.withColumn("__vr", F.row_number().over(vw))
        .filter(F.col("__vr") == 1)
        .select(
            F.col("__qid").alias(id_col),
            F.col("__nl").alias("pred_label"),
            F.col("__votes").alias("votes"),
        )
    )


def _exact_batch_cosine_scores(labeled: DataFrame, queries: DataFrame,
                               vec_col: str, id_col: str,
                               label_col: str) -> DataFrame:
    """The exact lane's (labeled × query) rounded-cosine relation —
    (__qid, id_col, __nl, __score) — computed by an Arrow-batched UDF
    instead of one interpreted HOF fold per pair (trap 26: a constant
    query matrix against many rows is exactly the route_clusters_pandas
    crossover; the former broadcast-NLJ spelling evaluated
    rows × queries × dim interpreted lambda steps).

    Exactness: the UDF accumulates VECTORIZED OVER ROWS but SEQUENTIAL
    OVER DIMENSIONS — `acc += L[:, i] * Q[:, i]` is one correctly-
    rounded IEEE multiply + add per element in the same order as the
    JVM left fold, so every score is bit-identical to
    cosine_similarity (pinned in tests/test_operators.py; numpy's own
    dot/pairwise summation would NOT be). Zero-norm / missing /
    length-mismatched vectors yield NULL exactly like the engine's
    nullif + zip_with-padding semantics.

    The query side is collected driver-side to close the matrix into
    the UDF closure (self-contained, trap 23): the exact lane already
    broadcasts the query relation, so driver-fit is a precondition
    either way — corpus-scale callers use the index lane. Falls back
    to the HOF spelling when the query side is empty or ragged.

    The collect + scorer-UDF pickling + qmap local relation are
    memoized per `memo.plan_key` of the query side — the bounded
    driver-side prefetch class (trap 8; `_query_vec` and DATA()
    precedent) with trap-19 content keying. Re-running the lane in one
    session (the bench's warm passes; any iterative caller) then pays
    ZERO driver jobs at construction: r15 measured 1.9-3.2 s of
    per-execution construction (collect job + 400-row createDataFrame
    + cloudpickle of the matrix closure), the latency-bound driver
    chain that made v25 degrade 4-8x in-bench under host contention
    while CPU-bound lanes scaled ~2x."""
    spark = labeled.sparkSession
    qrows, scorer, qmap = memo.QSIDE_CACHE.get(
        memo.plan_key(queries),
        lambda: _collect_query_side(spark, queries))
    if scorer is None:
        return _hof_scored_relation(labeled, qrows, queries,
                                    vec_col, id_col, label_col)
    return _scored_relation(labeled, scorer, qmap, vec_col, id_col, label_col)


def _collect_query_side(spark, queries: DataFrame):
    """(query rows, scorer UDF, qmap) for `_exact_batch_cosine_scores`;
    scorer and qmap are None for degenerate (empty/ragged) query sets,
    which re-enter the HOF fallback without re-collecting."""
    qrows = queries.collect()
    dims = {len(r[1]) for r in qrows if r[1] is not None}
    if not qrows or len(dims) != 1 or any(r[1] is None for r in qrows):
        return qrows, None, None
    import numpy as np

    d = dims.pop()
    qmat = np.array([[float(x) for x in r[1]] for r in qrows],
                    dtype="float64")

    def make_scorer(qm):
        # self-contained closure (trap 23): captures only the numpy
        # matrix — cloudpickled by value, no module globals (the
        # annotation names resolve at the MODULE level for pyspark's
        # type-hint inference; the body re-imports). Iterator form:
        # the query-norm fold runs once per task (guide §4.5).
        def score_batches(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
            import numpy as np
            import pandas as pd

            nq, nd = qm.shape
            qn = np.zeros(nq)
            for i in range(nd):
                qn += qm[:, i] * qm[:, i]
            qn = np.sqrt(qn)
            for vs in it:
                out = []
                ok_rows, ok_idx = [], []
                vals = vs.tolist()
                for ri, v in enumerate(vals):
                    if v is not None and len(v) == nd:
                        ok_rows.append(v)
                        ok_idx.append(ri)
                res = [None] * len(vals)
                if ok_rows:
                    lm = np.array(ok_rows, dtype="float64")
                    b = lm.shape[0]
                    acc = np.zeros((b, nq))
                    ln = np.zeros(b)
                    for i in range(nd):
                        # one rounded multiply + one rounded add per
                        # element, dim-sequential == the JVM left fold
                        acc += lm[:, i, None] * qm[None, :, i]
                        ln += lm[:, i] * lm[:, i]
                    den = np.sqrt(ln)[:, None] * qn[None, :]
                    with np.errstate(divide="ignore", invalid="ignore"):
                        cos = acc / den
                    zero = den == 0.0
                    for bi, ri in enumerate(ok_idx):
                        if zero[bi].any():
                            res[ri] = [None if zero[bi, j] else
                                       float(cos[bi, j])
                                       for j in range(nq)]
                        else:
                            res[ri] = [float(x) for x in cos[bi]]
                for ri, v in enumerate(vals):
                    if res[ri] is None:
                        # NULL or ragged vector: every pair scores NULL
                        # (zip_with pads -> NULL fold), keep the rows
                        res[ri] = [None] * nq
                out = pd.Series(res)
                yield out
        return score_batches

    scorer = F.pandas_udf(make_scorer(qmat), "array<double>")
    qmap = spark.createDataFrame(
        [(i, r[0]) for i, r in enumerate(qrows)],
        T.StructType([
            T.StructField("__qpos", T.IntegerType()),
            T.StructField("__qid", queries.schema["__qid"].dataType)]))
    return qrows, scorer, qmap


def _hof_scored_relation(labeled: DataFrame, qrows, queries: DataFrame,
                         vec_col: str, id_col: str,
                         label_col: str) -> DataFrame:
    """Degenerate query sets (empty / NULL / ragged): the per-pair HOF
    spelling — zip_with padding gives NULL scores exactly where the
    Arrow scorer would emit them."""
    spark = labeled.sparkSession
    local_q = (spark.createDataFrame(qrows, queries.schema)
               if qrows else queries)
    return (
        labeled.crossJoin(F.broadcast(local_q))
        .select(
            "__qid", F.col(id_col), F.col(label_col).alias("__nl"),
            F.round(cosine_similarity(F.col(vec_col), F.col("__qv")),
                    6).alias("__score"),
        )
    )


def _scored_relation(labeled: DataFrame, scorer, qmap: DataFrame,
                     vec_col: str, id_col: str,
                     label_col: str) -> DataFrame:
    return (
        labeled.select(F.col(id_col), F.col(label_col).alias("__nl"),
                       scorer(F.col(vec_col).cast("array<double>"))
                       .alias("__ss"))
        # posexplode_outer: no inferred generator-input filter (trap 2)
        # that would duplicate the UDF below a pushed predicate
        .select(F.col(id_col), "__nl",
                F.posexplode_outer("__ss").alias("__qpos", "__score"))
        .join(F.broadcast(qmap), "__qpos")
        .select("__qid", F.col(id_col), "__nl",
                F.round(F.col("__score"), 6).alias("__score"))
    )


def hard_negative_mining(corpus: DataFrame, queries: DataFrame,
                         vec_col: str = "embedding",
                         id_col: str = "vec_id",
                         label_col: str = "label", k: int = 5,
                         qid_col: str = "qid", qvec_col: str = "qv",
                         qlabel_col: str = "qlabel",
                         index: IVFIndex | None = None,
                         config=None) -> DataFrame:
    """Hard-negative mining for contrastive training (the DPR /
    Contriever protocol, Karpukhin et al. 2020): for each query, the k
    most-similar corpus rows carrying a DIFFERENT label — semantically
    close but wrong-class, the negatives that actually move a
    contrastive loss (random negatives are trivially separable).
    Beyond-reference LLM-pipeline operator; composes the existing kNN
    machinery.

    Exact lane (default): broadcast queries x corpus, label-mismatch
    filter, per-query window top-k — the v06 batched-kNN shape,
    oracle-checkable, O(corpus x queries) by design. With ``index``
    (IVF over the corpus) candidates come from ONE pruned corpus pass
    (`ivf_search_batch`, the knn_label_propagation convention) with a
    4x over-fetch absorbing the same-label hits the filter discards
    (a label filter can only shrink a probed set); recall follows the
    index presets, lane agreement at full probe is test-pinned.

    NULL labels carry no class information: null-labeled corpus rows
    are never negatives, null-labeled queries mine nothing. Returns
    (qid, rank, id, label, score), rank 1..k per query by (rounded
    score DESC, id) — the engine-exact tie rule."""
    from deeplake_spark.io import ensure_parallelism

    labeled = ensure_parallelism(corpus).filter(F.col(label_col).isNotNull())
    qs = queries.filter(F.col(qlabel_col).isNotNull())
    if index is not None:
        cand = (
            ivf_search_batch(index, qs, qvec_col=qvec_col,
                             qid_col=qid_col, k=int(k) * 4, config=config)
            .join(labeled.select(id_col, label_col), id_col)
            .join(F.broadcast(qs.select(qid_col, qlabel_col)), qid_col)
            .filter(F.col(label_col) != F.col(qlabel_col))
            # Self-exclusion, matching the exact lane: when query and
            # corpus id spaces overlap, the query's own row is never a
            # negative even if its corpus label differs (ADVICE r13).
            .filter(F.col(id_col) != F.col(qid_col))
            .select(qid_col, id_col, label_col, "score")
        )
    else:
        cand = (
            labeled.crossJoin(F.broadcast(qs))
            .filter((F.col(label_col) != F.col(qlabel_col))
                    & (F.col(id_col) != F.col(qid_col)))
            .select(
                qid_col, id_col, label_col,
                F.round(cosine_similarity(F.col(vec_col),
                                          F.col(qvec_col)), 6)
                .alias("score"))
        )
    w = Window.partitionBy(qid_col).orderBy(F.desc("score"), id_col)
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= int(k))
            .select(qid_col, F.col("rank").cast("int").alias("rank"),
                    id_col, label_col, "score"))


def mmr_select(df: DataFrame, vec_col: str, query_vec, k: int = 6,
               lam: float = 0.7, pool: int = 20,
               id_col: str = "vec_id",
               index: "IVFIndex | None" = None,
               config: SearchConfig | None = None) -> DataFrame:
    """Maximal Marginal Relevance diverse top-k (Carbonell & Goldstein
    1998) — the diverse-retrieval selection a training-data pipeline
    uses where plain top-k returns k near-copies: greedily pick the
    candidate maximizing ``lam * rel(c) − (1−lam) * max_{s∈S} sim(c,s)``
    over the already-selected set S. Returns
    (mmr_rank, id, rel, mmr_score), rank 1..k.

    Engine-exact greedy: the candidate pool is the ROUNDED-score top
    ``pool`` with the id tiebreak (the mrl/v26 engine-portable-boundary
    convention), pairwise pool sims are rounded to 6, and every greedy
    argmax compares (half-up-rounded mmr DESC, id ASC) over those
    already-rounded operands — so a SQL oracle can replay the unrolled
    greedy bit-for-bit.

    100 TB shape: the pool cut is the corpus pass — a
    TakeOrderedAndProject, or with ``index`` (an IVF index over the
    corpus, the v26/v30 funnel) one `ivf_search` probe: nprobe-pruned
    cluster scan instead of a full corpus pass. At FULL probe
    (nprobe ≥ n_clusters, accuracy_factor ≥ pool) the index pool
    equals the exact pool and the whole selection is identical
    (test-pinned); at partial probe the pool is approximate, so recall
    follows the index presets — the greedy itself stays exact over
    whatever pool arrives. Pairwise sims touch pool² pairs and the
    greedy is O(k·pool) driver-side over a BOUNDED collected candidate
    set (the mrl-funnel / PQ-codebook driver-fit convention — pool is
    a knob, never corpus-sized)."""
    spark = df.sparkSession
    pool_rows = _mmr_pool_rows(df, vec_col, query_vec, pool,
                               id_col, index, config)
    out, _sims, _rels = _mmr_greedy(pool_rows, k, lam)
    idt = {f.name: f.dataType for f in df.schema.fields}[id_col]
    schema = T.StructType([
        T.StructField("mmr_rank", T.IntegerType()),
        T.StructField(id_col, idt),
        T.StructField("rel", T.DoubleType()),
        T.StructField("mmr_score", T.DoubleType())])
    return spark.createDataFrame(out, schema)


def _mmr_pool_rows(df: DataFrame, vec_col: str, query_vec, pool: int,
                   id_col: str = "vec_id",
                   index: "IVFIndex | None" = None,
                   config: SearchConfig | None = None) -> list:
    """The bounded MMR candidate pool: ROUNDED-score top ``pool`` with
    the id tiebreak, collected as (id, vector, rel) rows IN POOL ORDER
    (rel DESC, id) — the one corpus pass `mmr_select`/v31 pay. Bounded
    collect = the documented driver-side exception class (DATA()
    prefetch / PQ codebook fit); pool is a knob, never corpus-sized."""
    if index is not None and isinstance(query_vec, Column):
        raise ValueError(
            "index-routed mmr_select needs a concrete query vector "
            "(centroid routing runs driver-side)")
    raw_qv = query_vec
    if isinstance(query_vec, Column):
        rel = F.round(cosine_similarity(F.col(vec_col), query_vec), 6)
    else:  # literal vector: ONE parsed expr (trap 12)
        from deeplake_spark.functions.vector import literal_vec_sql
        rel = F.round(cosine_similarity(
            f"`{vec_col}`", literal_vec_sql(query_vec)), 6)
    # zero-norm vectors score NULL (nullif denominator) — they carry no
    # direction to be similar OR diverse about, and a None rel would
    # crash the driver greedy (r14 review); exclude them from the pool
    if index is not None:
        # ANN pool cut: ivf_search already returns the ROUNDED cosine
        # with the id tiebreak — reuse its score as rel and fetch the
        # vectors back through one semijoin on the hit ids
        hits = (ivf_search(index, raw_qv, k=int(pool), config=config)
                .withColumnRenamed(index.id_col, id_col)
                .select(id_col, F.col("score").alias("rel"))
                .filter(F.col("rel").isNotNull()))
        pool_df = (df.select(F.col(id_col), F.col(vec_col))
                   .join(F.broadcast(hits), id_col)
                   .select(id_col, vec_col, "rel")
                   .orderBy(F.desc("rel"), id_col).limit(int(pool)))
    else:
        pool_df = (df.select(F.col(id_col), F.col(vec_col),
                             rel.alias("rel"))
                   .filter(F.col("rel").isNotNull())
                   .orderBy(F.desc("rel"), id_col).limit(int(pool)))
    return pool_df.collect()


def _fold_cosine(va, vb):
    """Driver-side twin of functions.vector.cosine_similarity: the
    SAME sequential left folds (dot, then each norm) in IEEE double —
    bit-identical to the JVM HOF evaluation, unlike numpy's pairwise
    summation which can flip a 6th decimal at a rounding edge. None on
    a zero norm (the engine's nullif)."""
    d = 0.0
    for x, y in zip(va, vb):
        d += x * y
    na = 0.0
    for x in va:
        na += x * x
    nb = 0.0
    for y in vb:
        nb += y * y
    den = math.sqrt(na) * math.sqrt(nb)
    if den == 0.0:
        return None
    return d / den


def _rnd6(x: float) -> float:
    # ROUND(double, 6) half away from zero — the Spark/DuckDB rule
    return math.copysign(math.floor(abs(x) * 1e6 + 0.5), x) / 1e6


def _mmr_pairwise_sims(pool_rows: list) -> dict:
    """Rounded pairwise cosines over the collected pool, keyed both
    ways. Pure driver arithmetic over ≤ pool² pairs (the r15 change:
    the former local-relation broadcast-join Spark job cost two
    collects and a createDataFrame per call while computing the exact
    same left-fold doubles — pinned equal in tests/test_operators)."""
    sim: dict = {}
    n = len(pool_rows)
    for i in range(n):
        ia, va = pool_rows[i][0], pool_rows[i][1]
        for j in range(i + 1, n):
            ib, vb = pool_rows[j][0], pool_rows[j][1]
            c = _fold_cosine(va, vb)
            if c is None:
                s = None
            else:
                s = _rnd6(c)
            sim[(ia, ib)] = s
            sim[(ib, ia)] = s
    return sim


def _mmr_greedy(pool_rows: list, k: int, lam: float):
    """The exact MMR greedy over a collected pool: returns
    (out_rows, sims, rels) where out_rows are
    (mmr_rank, id, rel, mmr_score) tuples, rank 1..k."""
    rels = {r[0]: r[2] for r in pool_rows}
    sim = _mmr_pairwise_sims(pool_rows)
    mu = 1.0 - lam  # one shared double; the oracle embeds repr(mu)
    selected: list = []
    out: list = []
    remaining = set(rels)
    for rank in range(1, int(k) + 1):
        if not remaining:
            break
        best_id, best_m = None, None
        for c in sorted(remaining):  # ascending id + strict > = id tiebreak
            if selected:
                m = _rnd6(lam * rels[c]
                          - mu * max(sim[(c, s)] for s in selected))
            else:
                m = _rnd6(lam * rels[c])
            if best_m is None or m > best_m:
                best_id, best_m = c, m
        out.append((rank, best_id, float(rels[best_id]), float(best_m)))
        selected.append(best_id)
        remaining.remove(best_id)
    return out, sim, rels


def mrl_prefilter_topk(df: DataFrame, vec_col: str, query_vec, k: int,
                       dims: int, refine: int = 4,
                       id_col: str = "vec_id") -> DataFrame:
    """Matryoshka coarse-to-fine top-k (Kusupati et al. 2022 MRL: the
    first ``dims`` components of an MRL-trained embedding are
    themselves a valid lower-dim embedding): rank the corpus by cosine
    over the ``dims``-prefix, keep ``k * refine`` candidates (a
    TakeOrderedAndProject — never a global sort), then rerank ONLY the
    candidates by full-dimension cosine and return the top ``k``.
    Returns (id, coarse_score, score), both scores rounded to 6.

    The candidate cut orders by the ROUNDED coarse score with the id
    tiebreak — the repo's engine-portable-boundary convention (t19's
    rate rounding): the kept set is then bit-stable across engines,
    which is what lets the DuckDB oracle replay the funnel exactly.

    100 TB shape: the coarse pass is scan + top-(k*refine) with
    per-partition pruning (TakeOrdered), the rerank touches k*refine
    rows. In a real layout the prefix is written as its OWN column at
    ingest (`F.slice` at write time), so the coarse scan reads dims/D
    of the vector bytes and the full column is fetched only for
    candidates — the fetch-back pruning the ANN lanes already
    implement; here the slice runs in the scan projection, which is
    the same plan shape at sf scale."""
    from deeplake_spark.functions.vector import cosine_similarity

    if isinstance(query_vec, Column):
        qpre = F.slice(query_vec, 1, dims)
        coarse = F.round(
            cosine_similarity(F.slice(F.col(vec_col), 1, dims), qpre), 6)
        full = F.round(cosine_similarity(F.col(vec_col), query_vec), 6)
    else:  # literal vector: coarse/full as ONE parsed expr each (trap 12)
        from deeplake_spark.functions.vector import literal_vec_sql
        qv = literal_vec_sql(query_vec)
        coarse = F.round(cosine_similarity(
            f"slice(`{vec_col}`, 1, {int(dims)})",
            f"slice({qv}, 1, {int(dims)})"), 6)
        full = F.round(cosine_similarity(f"`{vec_col}`", qv), 6)
    cands = (df.select(id_col, vec_col, coarse.alias("coarse_score"))
             .orderBy(F.desc("coarse_score"), id_col)
             .limit(int(k) * int(refine)))
    return (cands.select(id_col, "coarse_score", full.alias("score"))
            .orderBy(F.desc("score"), id_col)
            .limit(int(k)))
