"""Streaming sampling operators.

The stateless samplers need no twin: `sampling.assign_splits` and
`sampling.mixture_sample` are pure per-row md5 expressions and run
unchanged on a readStream (batch/stream equality pinned in
tests/test_streaming.py). This module holds the ones that need state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_source_cap(docs, group_col: str, k: int,
                      id_col: str = "doc_id") -> DataFrame:
    """Streaming per-source cap: ADMIT the first ``k`` rows per group
    in arrival order and drop the rest — the ingest-time version of
    `sampling.cap_per_group`. Semantics differ by construction and on
    purpose: the batch cap picks a UNIFORM k-subset of a finished
    corpus (it can see every candidate), a stream must decide on
    arrival without eviction (append-mode sinks can't retract an
    admitted row), so first-k-in-arrival-order is the honest streaming
    cap — the classic admission-control shape. Batch relationship:
    over any prefix of arrivals, admitted == the first min(k, seen)
    rows per group (pinned in tests); run the batch operator over the
    settled corpus when a uniform draw matters.

    Exactly-once: the per-group state is the admitted-id list (<= k
    bigints), so an at-least-once re-delivery of an admitted row is
    emitted ZERO additional times and a post-cap replay admits
    nothing — no extra ledger needed, post-cap arrivals leave no
    trace (the stream_cdc_shared_passages cap argument). State is
    bounded at O(k) per group.

    Emits (group, id) admission records in arrival order — join back
    to the payload stream/corpus downstream (keeping payloads out of
    both state and the sink is what makes the op cheap at any rate).
    """
    import pandas as pd

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    id_type = dict(docs.dtypes).get(id_col)
    if id_type not in ("bigint", "int", "smallint", "tinyint"):
        raise TypeError(
            f"stream_source_cap needs an integral id column, got "
            f"{id_col}: {id_type} — map ids to bigint first (the batch "
            "cap_per_group accepts any id type)")
    base = docs.select(F.col(group_col).cast("string").alias("grp"),
                       F.col(id_col).cast("long").alias("__did"))

    out_schema = "grp string, id bigint"
    state_schema = "ids array<bigint>"

    def fn(key, pdf_iter, state):
        ids = list(state.get[0]) if state.exists else []
        admitted = []
        for pdf in pdf_iter:
            for did in pdf["__did"]:
                if len(ids) >= k:
                    break
                did = int(did)
                if did in ids:
                    continue  # replay of an admitted row: emit nothing
                ids.append(did)
                admitted.append(did)
        state.update((ids,))
        yield pd.DataFrame({"grp": [key[0]] * len(admitted),
                            "id": admitted})

    return (base.groupBy("grp")
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "append", "NoTimeout"))


def stream_bloom_screen(docs: DataFrame, path: str, col: str,
                        out_col: str = "seen_before") -> DataFrame:
    """Streaming ingest admission against a PERSISTED Bloom filter
    (sketches.save_sketch / append_bloom_delta): flags each arriving row
    with whether its ``col`` value MAY already be in the corpus. No
    false negatives — ``out_col`` false is definitely new; true is a
    candidate for exact verification (the LSH convention). The batch
    twin is `sketches.bloom_contains`; stream == batch flags pinned in
    tests.

    STATELESS by construction: a global filter is collected ONCE at
    stream-definition time (n_words bigints — KB-scale, the bounded
    side-table protocol) and probed as a pure per-row expression; a
    per-group filter table becomes a stream-static broadcast join on
    the grouping columns (rows whose group has no stored filter flag
    false — nothing of that group is in the corpus). Snapshot
    semantics, like the streaming ANN index: `append_bloom_delta`s
    made while the query runs are invisible until restart — rebuild
    the query (or screen in foreachBatch) to pick up deltas."""
    from deeplake_spark.operators.sketches import (
        bloom_contains, load_sketch)

    spark = docs.sparkSession
    stored = load_sketch(spark, path)
    geom = [tuple(r) for r in
            stored.select("n_words", "k_hashes", "seed").distinct()
            .collect()]
    if len(geom) != 1:
        raise ValueError(
            f"Bloom side table at {path} holds mixed geometries {geom} "
            "— rebuild it with one (n_words, k_hashes, seed)")
    n_words, k_hashes, seed = (int(x) for x in geom[0])
    by = [c for c in stored.columns
          if c not in ("bloom", "n_words", "k_hashes", "seed")]
    # NULL probe values flag False, not NULL: the filter holds no NULLs
    # (bloom_sketch drops them), so NULL is definitely-not-in-corpus —
    # and the documented contract is "false is definitely new", which a
    # NULL flag would silently break under ~col filters
    if not by:
        # global filter: one bounded row -> literal expression
        words = list(stored.select("bloom").head().bloom)
        return docs.withColumn(out_col, F.coalesce(
            bloom_contains(F.lit(words), F.col(col),
                           n_words, k_hashes, seed), F.lit(False)))
    side = stored.select(
        *by, F.col("bloom").alias("__bloom"))
    flagged = (docs.join(F.broadcast(side), by, "left")
               .withColumn(out_col, F.when(
                   F.col("__bloom").isNull(), F.lit(False)).otherwise(
                   F.coalesce(
                       bloom_contains(F.col("__bloom"), F.col(col),
                                      n_words, k_hashes, seed),
                       F.lit(False))))
               .drop("__bloom"))
    return flagged
