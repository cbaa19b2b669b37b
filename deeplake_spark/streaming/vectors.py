"""Streaming ANN search — continuous top-k cosine search of a
query-vector STREAM against a static IVF index (beyond-reference: the
reference's vector search is request/response —
`python/deeplake/types.pyi:145,625-632` — a live pipeline scoring an
embedding stream against a corpus index has no batch moment to stop
at).

Two lanes, because Spark's streaming planner can and cannot do
different things:

- `stream_ann_search` — fully declarative (one readStream →
  writeStream plan). Centroid routing is the shared Arrow-batched
  routing UDF (centroid matrix in the closure — round 13 replaced the
  interpreted per-row SQL fold, whose cost was O(n_clusters * dim)
  lambda evals per query); candidates come from a stream-static join on
  `cluster`; a stateless `mapInPandas` partial top-k bounds what the
  final aggregation sees to <= k rows per (query, batch-partition) —
  the map-side combine TakeOrdered does in batch; the per-query merge
  is a watermarked windowed aggregation (append mode, bounded state).
  HONEST SCALE NOTE: dynamic partition pruning is batch-only, so the
  stream-static join scans the full assignments relation per
  micro-batch (hash-pruned per row, not per partition-file). Right
  when the index fits a scan budget or batches are large.
- `stream_ann_foreach_batch` — micro-batch lane: each batch resolves
  through the BATCH `ivf_search_batch` plan (broadcast routing
  relation against the cluster-partitioned assignments, so partition
  pruning and AQE apply as in batch). Right for 100 TB-scale indexes,
  at the cost of a foreachBatch sink instead of a composable
  streaming DataFrame.

Batch equivalence is test-pinned for both lanes: the same queries
through `ivf_search` / `ivf_search_batch` return the same ids and
scores (tests/test_streaming.py).

INDEX SNAPSHOT SEMANTICS (test-pinned,
test_stream_ann_index_append_mid_stream): a stream-static join
re-executes the static side each micro-batch, but the parquet
relation's FILE LISTING is captured when the index is loaded — an
IVF delta append landing mid-stream is invisible to later
micro-batches of a running `stream_ann_search` (and its centroid
literals are baked at plan time regardless). Restart the query to
pick up deltas, or use `stream_ann_foreach_batch(index_path=...)`,
which re-loads the index per micro-batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_ann_search(queries: DataFrame, index, k: int = 10,
                      config=None, qid_col: str = "qid",
                      qvec_col: str = "qv", ts_col: str = "ts",
                      watermark: str = "10 seconds",
                      window: str = "10 seconds") -> DataFrame:
    """Top-k cosine neighbors from `index` (an `IVFIndex`) for every
    query vector on a stream. `queries` needs (`qid_col`, `qvec_col`,
    `ts_col` instant-typed event time); emits (qid, win_start, rank,
    vec_id, score) rows — k per query per window — when the query's
    window expires. `win_start` (the aggregation window's start
    instant) keys the emission: the same qid re-queried in a later
    window emits a second top-k set, and without the window column the
    two sets would collide rank-for-rank indistinguishably.
    Works on batch DataFrames too (same plan minus the watermark, for
    equivalence tests and backfills)."""
    from deeplake_spark.operators.similarity import (
        SearchConfig, _route_clusters, _widened_nprobe)
    from deeplake_spark.functions.vector import cosine_similarity

    config = config or SearchConfig()
    eff = _widened_nprobe(len(index.centroids), config, None)
    routed = (
        queries
        .withColumn("__route",
                    _route_clusters(index.centroids, eff)(F.col(qvec_col)))
        .withColumn("cluster", F.explode_outer("__route"))
        .filter(F.col("cluster").isNotNull())
        .drop("__route"))
    cand = routed.join(index.assignments, "cluster").select(
        qid_col,
        ts_col,
        F.col(index.id_col).alias("vec_id"),
        F.round(cosine_similarity(F.col(index.vec_col),
                                  F.col(qvec_col)), 6).alias("score"),
    )

    part_schema = cand.schema  # id/ts types follow the inputs verbatim

    def partial_topk(batches):
        for pdf in batches:
            if len(pdf):
                # group by (qid, ts), not qid alone: the same qid
                # re-queried in a different window must not have its
                # weaker window's candidates truncated by the stronger
                # one's (finer groups keep a superset of every
                # window-group's true top-k)
                yield (pdf.sort_values(["score", "vec_id"],
                                       ascending=[False, True])
                       .groupby([qid_col, ts_col], as_index=False).head(k))

    partial = cand.mapInPandas(partial_topk, part_schema)
    merged_col = F.slice(
        F.array_sort(F.collect_list(F.struct(
            (-F.col("score")).alias("ns"), F.col("vec_id")))), 1, k)
    if queries.isStreaming:
        partial = partial.withWatermark(ts_col, watermark)
    grouped = partial.groupBy(
        F.window(F.col(ts_col), window).alias("win"), qid_col)
    return (
        grouped.agg(merged_col.alias("top"))
        .select(qid_col, F.col("win.start").alias("win_start"),
                F.posexplode("top").alias("pos", "hit"))
        .select(qid_col, "win_start",
                (F.col("pos") + 1).alias("rank"),
                F.col("hit.vec_id").alias("vec_id"),
                (-F.col("hit.ns")).alias("score"))
    )


def stream_ann_foreach_batch(queries: DataFrame, index, sink,
                             k: int = 10, config=None,
                             qid_col: str = "qid", qvec_col: str = "qv",
                             checkpoint: str | None = None,
                             index_path: str | None = None):
    """Micro-batch ANN lane: every micro-batch of query vectors runs
    the BATCH `ivf_search_batch` plan (broadcast (qid, cluster)
    routing relation joined against the cluster-partitioned
    assignments — partition pruning, AQE and broadcast planning all
    apply exactly as in batch, which the declarative streaming join
    cannot get). `sink(result_df, batch_id)` receives the
    (qid, id, score) top-k relation per micro-batch. Returns the
    started StreamingQuery (availableNow trigger — the caller awaits
    it).

    Index refresh: with `index_path` set, the index is RE-LOADED at
    the start of every micro-batch (one sidecar read + a parquet
    re-list, ~100ms), so IVF delta appends that land mid-stream are
    searched by subsequent batches. Without it, `index` is a snapshot
    — same staleness contract as the declarative lane (see
    test_stream_ann_index_append_mid_stream)."""
    from deeplake_spark.operators.similarity import IVFIndex, ivf_search_batch

    def fb(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        idx = IVFIndex.load(batch_df.sparkSession, index_path) \
            if index_path else index
        sink(ivf_search_batch(idx, batch_df, qvec_col=qvec_col,
                              qid_col=qid_col, k=k, config=config),
             batch_id)

    w = queries.writeStream.foreachBatch(fb).trigger(availableNow=True)
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    return w.start()
