"""Structured Streaming + training-feed tests: windowed/session/stateful
streaming results must match their batch equivalents on the same data."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from deeplake_spark.io import load_table
from deeplake_spark.streaming.events import (
    read_event_stream,
    run_stream_to_memory,
    session_rollup,
    windowed_rollup,
)
from deeplake_spark.streaming.feed import AsyncPrefetcher, iter_batches, query_async


def test_windowed_rollup_matches_batch(spark, sf_dir):
    stream = windowed_rollup(read_event_stream(spark, sf_dir), window="1 hour")
    run_stream_to_memory(stream, "win_out")
    got = {
        (r.window_start, r.event_type): (r.n, r.total_value)
        for r in spark.sql("SELECT * FROM win_out").collect()
    }
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
        .collect()
    )
    expected = {(r.win.start, r.event_type): (r.n, r.v) for r in batch}
    # append-mode semantics: a window is emitted only once the watermark
    # passes it, so windows inside the final watermark horizon stay open
    assert set(got) <= set(expected)
    max_ts = load_table(spark, sf_dir, "events").agg(F.max("ts")).head()[0]
    import datetime

    horizon = max_ts - datetime.timedelta(hours=2)
    closed = {k for k in expected if k[0] + datetime.timedelta(hours=1) < horizon}
    assert closed <= set(got), "all watermark-closed windows must be emitted"
    for k in got:
        assert got[k][0] == expected[k][0]
        assert got[k][1] == pytest.approx(expected[k][1])


def test_session_rollup_runs(spark, sf_dir):
    stream = session_rollup(read_event_stream(spark, sf_dir), gap="30 minutes")
    run_stream_to_memory(stream, "sess_out")
    rows = spark.sql("SELECT * FROM sess_out").collect()
    assert len(rows) > 0
    assert all(r.session_end >= r.session_start for r in rows)


def test_stateful_running_agg(spark, sf_dir):
    from deeplake_spark.streaming.events import read_event_stream, running_user_state

    stream = running_user_state(read_event_stream(spark, sf_dir))
    run_stream_to_memory(stream, "state_out", output_mode="update")
    got = {r.user_id: r.n_events for r in spark.sql("SELECT * FROM state_out").collect()}
    batch = {
        r.user_id: r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == batch


def test_feed_batches_and_prefetch(spark, sf_dir):
    df = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    batches = list(iter_batches(df.limit(25), 10))
    assert [len(b) for b in batches] == [10, 10, 5]
    pre = AsyncPrefetcher(iter_batches(df.limit(20), 10))
    assert sum(len(b) for b in pre) == 20


def test_query_async(spark, sf_dir):
    df = load_table(spark, sf_dir, "documents")
    fut = query_async(lambda: df.count())
    assert fut.result(timeout=120) == df.count()


def test_dedup_stream_matches_batch(spark, sf_dir):
    """Streaming keep-first dedup over a replayed (duplicated) source
    equals batch dropDuplicates on the same keys."""
    from deeplake_spark.streaming.events import dedup_stream

    import tempfile

    ev = load_table(spark, sf_dir, "events").limit(500)
    with tempfile.TemporaryDirectory() as d:
        # write the events twice to simulate an at-least-once replay
        ev.write.mode("overwrite").parquet(d + "/a.parquet")
        ev.write.mode("append").parquet(d + "/a.parquet")
        schema = spark.read.parquet(d + "/a.parquet").schema
        stream = (
            spark.readStream.format("parquet").schema(schema)
            .option("path", d + "/a.parquet").load()
        )
        out = dedup_stream(stream, ["event_id"])
        run_stream_to_memory(out, "dedup_out")
        got = spark.sql("SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM dedup_out").head()
    assert got.n == 500 and got.d == 500
    # batch fallback path
    assert dedup_stream(ev.unionAll(ev), ["event_id"]).count() == 500


def test_split_and_mixture_are_streaming_safe(spark, sf_dir):
    """assign_splits / mixture_sample are pure per-row md5 expressions —
    no state, no shuffle — so the SAME operator applies unchanged to a
    readStream and assigns exactly what the batch path assigns (the
    property that lets one pipeline definition serve backfill and
    live-tail ingestion)."""
    from deeplake_spark.operators.sampling import assign_splits, mixture_sample

    stream = read_event_stream(spark, sf_dir).select(
        F.col("event_id").alias("doc_id"), "event_type")
    out = mixture_sample(
        assign_splits(stream, id_col="doc_id"),
        domain_col="event_type",
        rates={"click": 0.5}, id_col="doc_id", default_rate=1.0,
    )
    run_stream_to_memory(out, "split_stream_out")
    got = {r.doc_id: r.split
           for r in spark.sql("SELECT * FROM split_stream_out").collect()}

    batch = mixture_sample(
        assign_splits(
            load_table(spark, sf_dir, "events")
            .select(F.col("event_id").alias("doc_id"), "event_type"),
            id_col="doc_id"),
        domain_col="event_type",
        rates={"click": 0.5}, id_col="doc_id", default_rate=1.0,
    )
    expected = {r.doc_id: r.split for r in batch.collect()}
    assert got == expected


def test_stream_near_dup_matches_batch_banding(spark, sf_dir, tmp_path):
    """Streaming MinHash-LSH near-dup: the stateful bucket operator must
    find exactly the pairs the batch banding finds on the same corpus
    (same signatures, same bands, signature-estimated Jaccard)."""
    import shutil

    from pyspark.sql import functions as F

    from deeplake_spark.functions.text import tokenize, word_shingles
    from deeplake_spark.io import load_table
    from deeplake_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from deeplake_spark.streaming.neardup import stream_near_dup_candidates

    # corpus with planted exact copies so the check carries signal
    src = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = src.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    corpus_dir = str(tmp_path / "docs")
    src.unionByName(planted).write.parquet(corpus_dir)

    stream = (spark.readStream.format("parquet")
              .schema("doc_id long, text string")
              .option("maxFilesPerTrigger", "1")
              .load(corpus_dir))
    out = stream_near_dup_candidates(stream, threshold=0.5)
    run_stream_to_memory(out, "neardup_out")
    got = {(r.a, r.b) for r in spark.sql("SELECT * FROM neardup_out").collect()}
    assert all(a < b for a, b in got)

    # batch reference: same signature + banding + signature-estimate
    batch_docs = spark.read.parquet(corpus_dir)
    sets = batch_docs.select(
        "doc_id",
        F.array_distinct(word_shingles(tokenize(F.col("text")), 3))
        .alias("shingles"),
    ).filter(F.size("shingles") > 0)
    sigs = minhash_signatures(sets, 32)
    cands = lsh_candidate_pairs(sigs, bands=8, rows=4)
    sa = sigs.select(F.col("doc_id").alias("a"), F.col("sig").alias("__sa"))
    sb = sigs.select(F.col("doc_id").alias("b"), F.col("sig").alias("__sb"))
    est = (F.size(F.filter(F.zip_with("__sa", "__sb",
                                      lambda x, y: (x == y).cast("int")),
                           lambda v: v == 1))
           / F.lit(32.0))
    expected = {
        (r.a, r.b)
        for r in cands.join(sa, "a").join(sb, "b")
        .filter(est >= 0.5).select("a", "b").collect()
    }
    assert (0, 1_000_000) in expected          # planted copy found
    assert got == expected


def test_streaming_inverted_index_matches_batch_build(spark, sf_dir, tmp_path,
                                                     round_trip):
    """foreachBatch index maintenance: after streaming a corpus in
    micro-batches, the accumulated delta index must probe and BM25-rank
    exactly like one batch-built index over the full corpus (merged
    corpus stats included)."""
    from pyspark.sql import functions as F

    from deeplake_spark.io import load_table
    from deeplake_spark.operators.indexes import (
        InvertedIndex,
        bm25_via_index,
        build_inverted_index,
    )
    from deeplake_spark.streaming.indexing import maintain_inverted_index

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus_dir = str(tmp_path / "docs")
    docs.repartition(3).write.parquet(corpus_dir)  # >= 3 micro-batches

    stream = (spark.readStream.format("parquet")
              .schema("doc_id long, text string")
              .option("maxFilesPerTrigger", "1")
              .load(corpus_dir))
    q = maintain_inverted_index(
        stream, str(tmp_path / "idx"),
        checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination()

    streamed = InvertedIndex.load(spark, str(tmp_path / "idx"))
    batch = round_trip(build_inverted_index(spark.read.parquet(corpus_dir)))

    # same corpus stats after the weighted merge of per-delta rows
    s_got, s_want = streamed.stats.head(), batch.stats.head()
    assert s_got["n_docs"] == s_want["n_docs"]
    assert abs(s_got["avgdl"] - s_want["avgdl"]) < 1e-9

    # same probe sets
    for terms, mode in ([["spark"], "any"], [["spark", "fast"], "all"]):
        got = {r.row_id for r in streamed.probe(terms, mode).collect()}
        want = {r.row_id for r in batch.probe(terms, mode).collect()}
        assert got == want and got

    # same BM25 ranking through the index probe path
    got = [(r.row_id, r.bm25) for r in
           bm25_via_index(streamed, ["spark", "fast"], k=10).collect()]
    want = [(r.row_id, r.bm25) for r in
            bm25_via_index(batch, ["spark", "fast"], k=10).collect()]
    assert got == want


def test_ingest_stream_versioned_commits_and_index_refresh(spark, sf_dir, tmp_path):
    """Streaming ingestion into the versioned Dataset: one commit per
    micro-batch (history = the stream's ledger), rows land exactly
    once across a checkpoint replay, and automatic indexing extends
    the inverted index with each epoch's delta."""
    from pyspark.sql import functions as F

    import deeplake_spark as dl

    docs = (load_table(spark, sf_dir, "documents")
            .select("doc_id", "text").limit(300))
    corpus_dir = str(tmp_path / "in")
    docs.repartition(3).write.parquet(corpus_dir)

    ds = dl.create(str(tmp_path / "ds"), spark, schema={
        "doc_id": dl.types.Generic("int64"), "text": dl.types.Text(),
    })
    ds.commit("init")
    ds.create_index("text", "inverted")
    ds.create_sketch("text", "kmv", k=32)
    v0 = ds.version

    stream = (spark.readStream.format("parquet")
              .schema("doc_id long, text string")
              .option("maxFilesPerTrigger", "1")
              .load(corpus_dir))
    ds.ingest_stream(stream,
                     checkpoint_dir=str(tmp_path / "ckpt")).awaitTermination()

    assert len(ds) == 300
    epochs = [v for v in ds.history() if "stream-epoch:" in v.message]
    assert len(epochs) == 3                      # one commit per micro-batch
    assert ds.version > v0

    # restart over the SAME checkpoint: no new epochs, no duplicate rows
    stream2 = (spark.readStream.format("parquet")
               .schema("doc_id long, text string")
               .option("maxFilesPerTrigger", "1")
               .load(corpus_dir))
    ds.ingest_stream(stream2,
                     checkpoint_dir=str(tmp_path / "ckpt")).awaitTermination()
    assert len(ds) == 300
    assert len([v for v in ds.history()
                if "stream-epoch:" in v.message]) == 3

    # automatic indexing kept the inverted index current: a probe finds
    # every streamed doc containing the term
    hits = {r.doc_id for r in ds.query(
        "SELECT doc_id WHERE CONTAINS(text, 'spark')").collect()}
    want = {r.doc_id for r in spark.read.parquet(corpus_dir)
            .filter(F.array_contains(F.split(F.lower("text"), r"\s+"), "spark"))
            .collect()}
    assert hits == want and hits

    # ...and the registered sketch too: three per-epoch delta merges
    # equal a fresh full build over the settled corpus, hash-exactly
    from deeplake_spark.operators.sketches import kmv_sketch

    assert list(ds.load_sketch("text", "kmv").head().sketch) == \
        list(kmv_sketch(ds.to_df(), "text", k=32).head().sketch)


def test_stream_epoch_idempotence_is_o1_in_epochs(spark, tmp_path, monkeypatch):
    """The replay-idempotence check must NOT walk the whole commit log:
    with 50 past stream epochs on the branch, deciding whether a new
    epoch already committed reads O(1) log entries (it stops at the
    first stream-epoch marker — ids are monotone per checkpoint)."""
    import deeplake_spark as dl
    from deeplake_spark import dataset as dsmod

    ds = dl.create(str(tmp_path / "ds"), spark, schema={
        "doc_id": dl.types.Generic("int64"),
    })
    ds.commit("init")
    for i in range(50):
        ds.commit(f"stream epoch {i} [stream-epoch:{i}]")

    real = dsmod._read_entry
    calls = []

    def counting(path, version):
        calls.append(version)
        return real(path, version)

    monkeypatch.setattr(dsmod, "_read_entry", counting)

    # newest commit IS a stream-epoch marker: exactly one read decides
    assert ds._last_stream_epoch() == 49
    assert len(calls) == 1

    # interleaved non-stream commits are walked past, nothing more
    monkeypatch.setattr(dsmod, "_read_entry", real)
    ds.commit("manual checkpoint note")
    ds.commit("another manual commit")
    monkeypatch.setattr(dsmod, "_read_entry", counting)
    calls.clear()
    assert ds._last_stream_epoch() == 49
    assert len(calls) == 3


def test_stream_near_dup_unique_pairs_and_exact_verify(spark, sf_dir, tmp_path):
    """stream_near_dup_pairs emits each candidate pair EXACTLY once
    (cross-band dedupe in-stream), the pair set equals the batch
    banding's distinct pair set at threshold < 1 on planted near-dups
    (perturbed copies, not exact), and verify_pairs_exact attaches the
    TRUE n-gram Jaccard the batch join computes."""
    from deeplake_spark.functions.text import tokenize, word_shingles
    from deeplake_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from deeplake_spark.streaming.neardup import (
        stream_near_dup_pairs,
        verify_pairs_exact,
    )

    # planted NEAR-dups: copies with a perturbing suffix, so est < 1
    # and the threshold filter is doing real work
    src = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = src.filter(F.col("doc_id") < 12).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat("text", F.lit(" perturbed suffix token")).alias("text"))
    corpus_dir = str(tmp_path / "docs")
    src.unionByName(planted).write.parquet(corpus_dir)
    corpus = spark.read.parquet(corpus_dir)

    stream = (spark.readStream.format("parquet")
              .schema("doc_id long, text string")
              .option("maxFilesPerTrigger", "1")
              .load(corpus_dir))
    out = stream_near_dup_pairs(stream, threshold=0.5)
    run_stream_to_memory(out, "neardup_uniq")
    rows = spark.sql("SELECT * FROM neardup_uniq").collect()
    got = {(r.a, r.b) for r in rows}
    assert len(rows) == len(got), "pair emitted more than once"
    assert all(a < b for a, b in got)

    # batch reference: banding + full-signature estimate, distinct
    sets = corpus.select(
        "doc_id",
        F.array_distinct(word_shingles(tokenize(F.col("text")), 3))
        .alias("shingles")).filter(F.size("shingles") > 0)
    sigs = minhash_signatures(sets, 32)
    cands = lsh_candidate_pairs(sigs, bands=8, rows=4)
    sa = sigs.select(F.col("doc_id").alias("a"), F.col("sig").alias("__sa"))
    sb = sigs.select(F.col("doc_id").alias("b"), F.col("sig").alias("__sb"))
    est = (F.size(F.filter(F.zip_with("__sa", "__sb",
                                      lambda x, y: (x == y).cast("int")),
                           lambda v: v == 1)) / F.lit(32.0))
    expected = {(r.a, r.b)
                for r in cands.join(sa, "a").join(sb, "b")
                .filter(est >= 0.5).select("a", "b").distinct().collect()}
    assert (0, 1_000_000) in expected        # planted near-dup found
    assert got == expected

    # exact verification: true Jaccard, perturbed copies land in (0, 1)
    pairs_df = spark.sql("SELECT a, b, est_jaccard FROM neardup_uniq")
    verified = {(r.a, r.b): r.jaccard
                for r in verify_pairs_exact(pairs_df, corpus).collect()}
    assert set(verified) == got
    planted_j = [j for (a, b), j in verified.items() if b == a + 1_000_000]
    assert planted_j and all(0.5 < j < 1.0 for j in planted_j)

    # and it matches an independently-computed exact jaccard
    for (a, b), j in list(verified.items())[:5]:
        sh = {r.doc_id: set(r.shingles) for r in
              sets.filter(F.col("doc_id").isin([int(a), int(b)])).collect()}
        want = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
        assert abs(j - round(want, 6)) < 1e-9

    # threshold filters on the UNROUNDED exact value (verified[] holds
    # the rounded one, so compare with a half-ulp band at the boundary)
    thr_pairs = {(r.a, r.b) for r in
                 verify_pairs_exact(pairs_df, corpus, threshold=0.9).collect()}
    assert thr_pairs <= set(verified)
    assert all(verified[p] >= 0.9 - 5e-7 for p in thr_pairs)
    assert {p for p, j in verified.items() if j >= 0.9 + 5e-7} <= thr_pairs


def test_stream_ann_search_matches_batch(spark, sf_dir, tmp_path, round_trip):
    """Streaming ANN (both lanes) must return exactly what the batch
    index probe returns for the same queries: the declarative lane
    (stream-static cluster join + mapInPandas partial top-k +
    watermarked windowed merge) against per-query `ivf_search`, and
    the foreachBatch lane against `ivf_search_batch` (which it runs).
    The append-mode windowed merge only emits once the watermark
    passes a query's window, so the query files carry event times an
    hour apart and maxFilesPerTrigger=1 forces the late file into a
    second micro-batch that flushes the first."""
    import datetime as dt

    from pyspark.sql import functions as F

    from deeplake_spark.io import load_table
    from deeplake_spark.operators.similarity import (
        SearchConfig,
        build_ivf,
        ivf_search,
        ivf_search_batch,
    )
    from deeplake_spark.streaming.events import run_stream_to_memory
    from deeplake_spark.streaming.vectors import (
        stream_ann_foreach_batch,
        stream_ann_search,
    )

    e = load_table(spark, sf_dir, "embeddings")
    index = round_trip(build_ivf(e, n_clusters=8, seed=42))
    index.assignments.cache()
    cfg = SearchConfig.balanced()
    qvecs = {r.vec_id: list(r.embedding)
             for r in e.filter(F.col("vec_id") < 3).collect()}

    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)
    qdir = str(tmp_path / "queries")
    rows = [(int(qid), v, t0) for qid, v in qvecs.items()]
    schema = "qid long, qv array<float>, ts timestamp"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(qdir)
    # flush row an hour later: advances the watermark past t0's window
    spark.createDataFrame([(999, list(qvecs.values())[0],
                            t0 + dt.timedelta(hours=1))],
                          schema).coalesce(1).write.mode("append").parquet(qdir)

    stream = (spark.readStream.format("parquet").schema(schema)
              .option("maxFilesPerTrigger", "1").load(qdir))
    out = stream_ann_search(stream, index, k=5, config=cfg)
    run_stream_to_memory(out, "ann_stream")
    got = spark.sql("SELECT * FROM ann_stream").collect()
    by_qid: dict = {}
    for r in got:
        by_qid.setdefault(r.qid, []).append(r)
    assert set(qvecs) <= set(by_qid)          # the flush row may or may not emit
    for qid, vec in qvecs.items():
        want = [(r.vec_id, r.score)
                for r in ivf_search(index, vec, k=5, config=cfg).collect()]
        hits = sorted(by_qid[qid], key=lambda r: r.rank)
        assert [(r.vec_id, r.score) for r in hits] == want

    # batch DataFrame through the SAME declarative plan (backfill lane)
    batch_out = stream_ann_search(spark.read.parquet(qdir), index, k=5,
                                  config=cfg)
    assert sorted((r.qid, r.rank, r.vec_id) for r in batch_out.collect()
                  if r.qid in qvecs) == sorted(
        (r.qid, r.rank, r.vec_id) for r in got if r.qid in qvecs)

    # foreachBatch lane == ivf_search_batch on the whole query set
    collected: list = []
    q = stream_ann_foreach_batch(
        (spark.readStream.format("parquet").schema(schema).load(qdir)),
        index,
        lambda df, bid: collected.extend(df.collect()),
        k=5, config=cfg,
        checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination()
    want_fb = {(r.qid, r.vec_id, r.score) for r in ivf_search_batch(
        index, spark.read.parquet(qdir), k=5, config=cfg).collect()}
    assert {(r.qid, r.vec_id, r.score) for r in collected} == want_fb
    index.assignments.unpersist()


def test_stream_ann_index_append_mid_stream(spark, tmp_path):
    """Index-refresh semantics, pinned (round-8 verdict #4): the
    declarative lane's stream-static join re-EXECUTES the static side
    every micro-batch, but the parquet relation's file listing was
    captured when the index was loaded — an `append_ivf_delta` landing
    mid-stream is NOT seen by later micro-batches (windows opened
    after the append still search the snapshot). Restart the query to
    pick up deltas, or use the foreachBatch lane with `index_path`,
    which re-loads the index per micro-batch and DOES search them.
    The appended vectors equal the query vector exactly (cosine 1.0 >
    every corpus-A score), so they'd dominate top-k if visible."""
    import datetime as dt
    import os

    from deeplake_spark.operators.similarity import (
        IVFIndex,
        SearchConfig,
        build_ivf,
        ivf_search,
    )
    from deeplake_spark.streaming.vectors import (
        stream_ann_foreach_batch,
        stream_ann_search,
    )

    # corpus A: cosine vs the query strictly < 1 (second component)
    rows_a = [(i, [10.0, 1.0 + (i % 7) * 0.1, (i % 5) * 0.3, 0.0])
              for i in range(100)]
    df_a = spark.createDataFrame(rows_a,
                                 "vec_id long, embedding array<double>")
    idx_path = str(tmp_path / "ivf")
    build_ivf(df_a, n_clusters=4, seed=1).save(idx_path)
    idx = IVFIndex.load(spark, idx_path)

    qv = [10.0, 0.0, 0.0, 0.0]
    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)
    schema = "qid long, qv array<double>, ts timestamp"
    qdir = str(tmp_path / "queries")
    spark.createDataFrame([(1, qv, t0)], schema) \
        .coalesce(1).write.parquet(qdir)

    stream = (spark.readStream.format("parquet").schema(schema)
              .option("maxFilesPerTrigger", "1").load(qdir))
    out = stream_ann_search(stream, idx, k=5,
                            config=SearchConfig.high_accuracy())
    q = (out.writeStream.format("memory").queryName("annrefresh")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        # delta lands while the stream runs: ids 1000+ AT the query
        df_b = spark.createDataFrame(
            [(1000 + i, qv) for i in range(5)],
            "vec_id long, embedding array<double>")
        idx.delta(df_b).save(idx_path, mode="append")
        # window-2 query (after the append), then a flush row
        for h, qid in ((1, 2), (2, 3)):
            spark.createDataFrame(
                [(qid, qv, t0 + dt.timedelta(hours=h))], schema) \
                .coalesce(1).write.mode("append").parquet(qdir)
            q.processAllAvailable()
    finally:
        q.stop()
    by_qid: dict = {}
    for r in spark.sql("SELECT * FROM annrefresh").collect():
        by_qid.setdefault(r.qid, set()).add(r.vec_id)
    # both windows emitted, neither saw the delta: snapshot semantics
    assert by_qid[1] == by_qid[2]
    assert not any(v >= 1000 for v in by_qid[2])
    # a restart (fresh load) DOES search the delta
    fresh = IVFIndex.load(spark, idx_path)
    assert {r.vec_id for r in
            ivf_search(fresh, qv, k=5,
                       config=SearchConfig.high_accuracy()).collect()} \
        == {1000, 1001, 1002, 1003, 1004}
    # foreachBatch lane with index_path: re-loads per batch, sees it
    collected: list = []
    fb = stream_ann_foreach_batch(
        (spark.readStream.format("parquet").schema(schema).load(qdir)),
        idx,   # deliberately the STALE handle — index_path must win
        lambda df, bid: collected.extend(df.collect()),
        k=5, config=SearchConfig.high_accuracy(),
        checkpoint=str(tmp_path / "ckpt"), index_path=idx_path)
    fb.awaitTermination()
    got_fb = {r.vec_id for r in collected if r.qid == 1}
    assert got_fb == {1000, 1001, 1002, 1003, 1004}
    # stale-handle contract unchanged when index_path is omitted
    collected2: list = []
    fb2 = stream_ann_foreach_batch(
        (spark.readStream.format("parquet").schema(schema).load(qdir)),
        idx,
        lambda df, bid: collected2.extend(df.collect()),
        k=5, config=SearchConfig.high_accuracy(),
        checkpoint=str(tmp_path / "ckpt2"))
    fb2.awaitTermination()
    assert not any(r.vec_id >= 1000 for r in collected2)
    assert os.path.isdir(idx_path)


def test_stream_ann_output_keyed_per_window(spark, sf_dir, round_trip):
    """A qid queried in TWO different windows emits two top-k sets;
    `win_start` in the output schema is what keeps them apart — without
    it the sets collide rank-for-rank indistinguishably (round-8
    ADVICE). Exercised through the batch lane (same plan minus the
    watermark), where every window emits."""
    import datetime as dt

    from deeplake_spark.io import load_table
    from deeplake_spark.operators.similarity import SearchConfig, build_ivf

    from deeplake_spark.streaming.vectors import stream_ann_search

    e = load_table(spark, sf_dir, "embeddings")
    index = round_trip(build_ivf(e, n_clusters=4, seed=42))
    qv = [float(x) for x in e.limit(1).head().embedding]
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    queries = spark.createDataFrame(
        [(7, qv, t0), (7, qv, t0 + dt.timedelta(hours=1))],
        "qid long, qv array<double>, ts timestamp")
    out = stream_ann_search(queries, index, k=3,
                            config=SearchConfig.high_accuracy()).collect()
    assert {c for c in ("qid", "win_start", "rank", "vec_id", "score")} \
        <= {f for f in out[0].asDict()}
    by_win: dict = {}
    for r in out:
        by_win.setdefault(r.win_start, []).append(r)
    assert len(by_win) == 2                    # one emission per window
    for rows in by_win.values():
        assert sorted(r.rank for r in rows) == [1, 2, 3]
    wins = sorted(by_win)
    assert [r.vec_id for r in sorted(by_win[wins[0]], key=lambda r: r.rank)] \
        == [r.vec_id for r in sorted(by_win[wins[1]], key=lambda r: r.rank)]


def test_stream_phash_near_dup_matches_batch(spark, tmp_path):
    """Streaming pHash near-dup: the stateful bucket operator must emit
    exactly the batch image_near_dup_pairs pair set with IDENTICAL
    hamming values (the 64-bit signature is the state, so verification
    is exact, unlike the MinHash stream's estimate)."""
    import numpy as np
    from pyspark.sql import functions as F

    from deeplake_spark.operators.multimodal import image_near_dup_pairs
    from deeplake_spark.streaming.neardup import stream_phash_near_dup

    rng = np.random.default_rng(21)

    def ppm(a):
        a = np.asarray(a, dtype=np.uint8)
        return bytearray(b"P6\n%d %d\n255\n" % (a.shape[1], a.shape[0])
                         + a.tobytes())

    rows, vid = [], 0
    for i in range(18):
        base = rng.integers(0, 256, (16, 16, 3))
        rows.append((vid, ppm(base))); vid += 1
        if i % 3 == 0:  # planted perturbed copy
            pert = base.copy()
            pert[:2, :2] = rng.integers(0, 256, (2, 2, 3))
            rows.append((vid, ppm(pert))); vid += 1
    corpus_dir = str(tmp_path / "imgs")
    (spark.createDataFrame(rows, "img_id long, image binary")
     .repartition(4).write.parquet(corpus_dir))

    stream = (spark.readStream.format("parquet")
              .schema("img_id long, image binary")
              .option("maxFilesPerTrigger", "1")
              .load(corpus_dir))
    out = stream_phash_near_dup(stream, "image", "img_id",
                                compression="ppm", strict=True,
                                max_hamming=6)
    run_stream_to_memory(out, "phash_stream_out")
    got = {(r.a, r.b): r.hamming
           for r in spark.sql(
               "SELECT DISTINCT a, b, hamming FROM phash_stream_out"
           ).collect()}

    batch = {(r.a, r.b): r.hamming for r in image_near_dup_pairs(
        spark.read.parquet(corpus_dir), "image", "img_id",
        compression="ppm", strict=True, max_hamming=6).collect()}
    assert got == batch
    assert len(batch) >= 3  # the planted copies are really found


def test_stream_bits_near_dup_audio_matches_batch(spark, tmp_path):
    """The generic streaming bits engine serves the audio modality too:
    stream fingerprint pairs == batch audio_near_dup_pairs."""
    import io
    import wave as _wave

    import numpy as np

    from deeplake_spark.operators.multimodal import (
        audio_fingerprint, audio_near_dup_pairs)
    from deeplake_spark.streaming.neardup import stream_bits_near_dup

    def wav(samples, rate=8000):
        buf = io.BytesIO()
        with _wave.open(buf, "wb") as wf:
            wf.setnchannels(1); wf.setsampwidth(2); wf.setframerate(rate)
            a = (np.clip(np.asarray(samples), -1, 1) * 32767).astype("<i2")
            wf.writeframes(a.tobytes())
        return bytearray(buf.getvalue())

    rng = np.random.default_rng(31)
    t = np.arange(4000) / 8000.0
    rows, cid = [], 0
    for i in range(10):
        f0 = 200 + 180 * i
        tone = np.sin(2 * np.pi * f0 * t) + 0.4 * np.sin(2 * np.pi * 3 * f0 * t)
        rows.append((cid, wav(tone))); cid += 1
        if i % 2 == 0:  # planted noisy copy
            rows.append((cid, wav(tone + rng.normal(0, 0.01, t.shape)))); cid += 1
    corpus_dir = str(tmp_path / "clips")
    (spark.createDataFrame(rows, "clip_id long, audio binary")
     .repartition(3).write.parquet(corpus_dir))

    stream = (spark.readStream.format("parquet")
              .schema("clip_id long, audio binary")
              .option("maxFilesPerTrigger", "1")
              .load(corpus_dir))
    hashed = audio_fingerprint(stream, "audio", compression="wav", strict=True)
    out = stream_bits_near_dup(hashed, "afp_bits", "clip_id", max_hamming=6)
    run_stream_to_memory(out, "afp_stream_out")
    got = {(r.a, r.b): r.hamming for r in spark.sql(
        "SELECT DISTINCT a, b, hamming FROM afp_stream_out").collect()}

    batch = {(r.a, r.b): r.hamming for r in audio_near_dup_pairs(
        spark.read.parquet(corpus_dir), "audio", "clip_id",
        compression="wav", strict=True, max_hamming=6).collect()}
    assert got == batch
    assert len(batch) >= 3


def test_stream_bits_near_dup_rejects_non_integral_ids(spark):
    """Non-integral id columns fail EAGERLY with a clear message (the
    state/output schemas key pairs by bigint) instead of a ValueError
    deep inside the stateful UDF at runtime; the batch twin
    bits_near_dup_pairs stays the documented fallback for string ids."""
    from deeplake_spark.streaming.neardup import stream_bits_near_dup

    df = spark.createDataFrame(
        [("a", [0] * 64)], "doc string, bits array<int>")
    with pytest.raises(TypeError, match="integral id column.*batch twin"):
        stream_bits_near_dup(df, "bits", "doc")


def test_stream_bits_near_dup_post_cap_arrivals_idempotent(spark, tmp_path):
    """A post-cap arrival emits its pairs against the stored members
    exactly ONCE: the bucket records its id (`seen`, ids only — no
    bits) even though it never becomes a member, so an at-least-once
    re-delivery / micro-batch replay of the same row is skipped instead
    of re-emitting its (a, b) pairs into an append-mode sink."""
    from deeplake_spark.streaming.neardup import stream_bits_near_dup

    bands, bits = 8, [1] * 64
    data_dir = str(tmp_path / "bits_in")
    out_dir = str(tmp_path / "pairs_out")
    ckpt = str(tmp_path / "ckpt")

    def write_rows(rows):
        (spark.createDataFrame(rows, "clip_id long, bits array<int>")
         .coalesce(1).write.mode("append").parquet(data_dir))

    def run():
        # file sink (memory doesn't recover from a checkpoint): the
        # append-mode at-least-once shape real deployments use
        stream = (spark.readStream.format("parquet")
                  .schema("clip_id long, bits array<int>")
                  .option("maxFilesPerTrigger", "1")
                  .load(data_dir))
        out = stream_bits_near_dup(stream, "bits", "clip_id",
                                   max_hamming=6, bands=bands,
                                   bucket_cap=1)
        q = (out.writeStream.outputMode("append").format("parquet")
             .option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    # run 1: two identical signatures; cap=1 -> the second is post-cap,
    # emits its pairs, and is recorded in `seen` (not a member)
    write_rows([(1, bits)])
    write_rows([(2, bits)])
    run()
    # run 2 (same checkpoint): id 2 RE-DELIVERED plus a new id 3
    write_rows([(2, bits), (3, bits)])
    run()
    rows = spark.read.parquet(out_dir).select("a", "b").collect()
    member = min(r.a for r in rows)  # whichever file listed first
    from collections import Counter

    counts = Counter((r.a, r.b) for r in rows)
    others = sorted({1, 2, 3} - {member})
    # each pair once per band — the re-delivered id 2 added nothing
    assert counts == {(member, o) if member < o else (o, member): bands
                      for o in others}, counts


def test_stream_bits_near_dup_probes_persisted_index(spark, tmp_path):
    """index_path lane: arriving signatures probe the persisted
    fingerprint side table (already-decoded corpus) through a
    stateless stream-static band join — emitted distinct pairs ==
    batch pairs over (stream ∪ corpus) MINUS the corpus-internal
    pairs (history-vs-history is the batch rerun's job, not the
    stream's), with within-stream pairs still coming from the
    stateful lane."""
    import numpy as np

    from deeplake_spark.operators.multimodal import FingerprintIndex
    from deeplake_spark.operators.similarity import bits_near_dup_pairs
    from deeplake_spark.streaming.neardup import stream_bits_near_dup

    rng = np.random.default_rng(37)

    def flip3(bits):
        out = bits[:]
        for j in rng.choice(64, 3, replace=False):
            out[j] ^= 1
        return out

    sigs = {i: [int(b) for b in rng.integers(0, 2, 64)] for i in range(12)}
    sigs[1] = flip3(sigs[0])   # corpus-corpus pair (must be EXCLUDED)
    sigs[6] = flip3(sigs[2])   # corpus-stream cross pair
    sigs[9] = flip3(sigs[8])   # within-stream pair
    # ids 0-5 are the CORPUS (persisted signatures), 6-11 the stream
    corpus_ids, stream_ids = list(range(6)), list(range(6, 12))
    side = spark.createDataFrame(
        [(i, sigs[i], 0) for i in corpus_ids],
        "clip_id long, bits array<int>, packed long")
    idx_path = str(tmp_path / "fp_idx")
    FingerprintIndex(side, "image", "clip_id", {}).save(idx_path)

    stream_dir = str(tmp_path / "stream_in")
    (spark.createDataFrame([(i, sigs[i]) for i in stream_ids],
                           "clip_id long, bits array<int>")
     .coalesce(1).write.parquet(stream_dir))
    stream = (spark.readStream.format("parquet")
              .schema("clip_id long, bits array<int>")
              .option("maxFilesPerTrigger", "1").load(stream_dir))
    out = stream_bits_near_dup(stream, "bits", "clip_id",
                               max_hamming=6, index_path=idx_path)
    run_stream_to_memory(out, "fp_probe_out")
    got = {(r.a, r.b) for r in spark.sql(
        "SELECT DISTINCT a, b FROM fp_probe_out").collect()}

    everything = spark.createDataFrame(
        [(i, sigs[i]) for i in range(12)], "clip_id long, bits array<int>")
    batch = {(r.a, r.b) for r in bits_near_dup_pairs(
        everything, "bits", "clip_id", max_hamming=6, bands=8).collect()}
    want = {(a, b) for a, b in batch
            if not (a in corpus_ids and b in corpus_ids)}
    assert got == want
    assert (2, 6) in got, "fixture must exercise the cross lane"
    assert (8, 9) in got, "fixture must exercise the within-stream lane"
    assert (0, 1) in batch and (0, 1) not in got, \
        "corpus-internal pairs stay out of the stream output"


def test_stream_bits_near_dup_rejects_non_integral_index_ids(spark,
                                                             tmp_path):
    """The corpus lane applies the SAME eager id-dtype gate as the
    stream side (round-12 advice): a fingerprint index built over a
    string id would cast to null __cid and the cross lane would
    silently emit zero pairs — it must raise instead."""
    from deeplake_spark.operators.multimodal import FingerprintIndex
    from deeplake_spark.streaming.neardup import stream_bits_near_dup

    side = spark.createDataFrame(
        [("c0", [1] * 64, 0)], "clip string, bits array<int>, packed long")
    path = str(tmp_path / "bad_idx")
    FingerprintIndex(side, "image", "clip", {}).save(path)
    df = spark.createDataFrame([(1, [1] * 64)],
                               "clip_id long, bits array<int>")
    with pytest.raises(TypeError, match="non-integral id"):
        stream_bits_near_dup(df, "bits", "clip_id", max_hamming=6,
                             index_path=path)


def test_stream_bits_near_dup_skip_ids_in_index(spark, tmp_path):
    """Disjointness enforcement for the corpus lane: when a stream
    replays an ALREADY-INGESTED row (its id exists in the fingerprint
    side table), skip_ids_in_index=True anti-joins it out of the cross
    probe — no pairing of a row with its own corpus neighborhood —
    while genuinely-new arrivals still probe the corpus and the
    within-stream lane is untouched. The default (False) documents the
    failure mode: the replayed id's corpus-neighbor pair leaks."""
    import numpy as np

    from deeplake_spark.operators.multimodal import FingerprintIndex
    from deeplake_spark.streaming.neardup import stream_bits_near_dup

    rng = np.random.default_rng(41)

    def flip3(bits):
        out = bits[:]
        for j in rng.choice(64, 3, replace=False):
            out[j] ^= 1
        return out

    sigs = {i: [int(b) for b in rng.integers(0, 2, 64)] for i in range(12)}
    sigs[1] = flip3(sigs[0])   # corpus neighbor of the replayed id 0
    sigs[6] = flip3(sigs[2])   # corpus-vs-NEW-stream cross pair
    corpus_ids = list(range(6))
    side = spark.createDataFrame(
        [(i, sigs[i], 0) for i in corpus_ids],
        "clip_id long, bits array<int>, packed long")
    idx_path = str(tmp_path / "fp_overlap_idx")
    FingerprintIndex(side, "image", "clip_id", {}).save(idx_path)

    # the stream delivers id 0 AGAIN (replay of ingested history) plus
    # new ids 6-11
    stream_rows = [(i, sigs[i]) for i in [0] + list(range(6, 12))]

    def run(name, **kw):
        d = str(tmp_path / f"in_{name}")
        (spark.createDataFrame(stream_rows,
                               "clip_id long, bits array<int>")
         .coalesce(1).write.parquet(d))
        stream = (spark.readStream.format("parquet")
                  .schema("clip_id long, bits array<int>")
                  .option("maxFilesPerTrigger", "1").load(d))
        out = stream_bits_near_dup(stream, "bits", "clip_id",
                                   max_hamming=6, index_path=idx_path,
                                   **kw)
        run_stream_to_memory(out, f"skip_idx_{name}")
        return {(r.a, r.b) for r in spark.sql(
            f"SELECT DISTINCT a, b FROM skip_idx_{name}").collect()}

    leaky = run("default")
    assert (0, 1) in leaky, "fixture must exercise the documented leak"

    guarded = run("skip", skip_ids_in_index=True)
    assert (0, 1) not in guarded, \
        "replayed ingested id must not pair with its corpus copy's " \
        "neighborhood"
    assert (2, 6) in guarded, "new arrivals still probe the corpus"
    # the replayed id contributes NOTHING cross-lane: no guarded pair
    # joins id 0 to any corpus id (within-stream pairs may still hold 0)
    assert not any(
        (a == 0 and b in corpus_ids) or (b == 0 and a in corpus_ids)
        for a, b in guarded), guarded


def test_cdc_chunk_array_matches_batch_chunker(spark, sf_dir):
    """The row-local HOF chunker (the streaming spelling — per-doc
    windows are unsupported on streams) produces EXACTLY the batch
    cdc_chunks chunk multiset per document, over the real documents
    table plus the empty/null/one-token edges."""
    from deeplake_spark.functions.text import tokenize
    from deeplake_spark.operators.dedup import cdc_chunk_array, cdc_chunks

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    edges = spark.createDataFrame(
        [(100001, ""), (100002, None), (100003, "one")],
        "doc_id long, text string")
    base = d.unionByName(edges)
    batch: dict = {}
    for r in cdc_chunks(base).collect():
        batch.setdefault(r.doc_id, []).append(r.chunk)
    row = {r.doc_id: list(r.ch) for r in base.select(
        "doc_id", tokenize(F.col("text")).alias("__t")).select(
        "doc_id", cdc_chunk_array("__t").alias("ch")).collect()}
    assert set(row) == set(batch) | {100001, 100002}  # empty docs: no batch rows
    for did, chs in row.items():
        assert sorted(chs) == sorted(batch.get(did, [])), did


def test_stream_cdc_shared_passages_matches_batch(spark, sf_dir, tmp_path):
    """Stream-vs-batch parity for CDC shared-passage detection: the
    t33 fixture (documents + planted shifted copies behind doc-specific
    prefixes) streamed one file per trigger emits exactly one (chunk,
    a, b) row per shared chunk, so groupBy(a, b).count() == the batch
    operator's n_shared_chunks — on data where no chunk crosses
    max_docs (the documented append-mode divergence)."""
    from deeplake_spark.operators.dedup import cdc_shared_passages
    from deeplake_spark.streaming.neardup import stream_cdc_shared_passages

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.filter(F.col("doc_id") < 12).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.lit("prefix"), F.col("doc_id").cast("string"),
                 F.lit(" padd "), F.col("text")).alias("text"))
    base = d.unionByName(planted)

    want = {(r.a, r.b): r.n_shared_chunks
            for r in cdc_shared_passages(base).collect()}
    assert want, "fixture must produce shared passages"

    in_dir = str(tmp_path / "cdc_in")
    # two files -> two triggers: membership must accumulate across
    # micro-batches, not just within one
    d.coalesce(1).write.mode("append").parquet(in_dir)
    planted.coalesce(1).write.mode("append").parquet(in_dir)
    stream = (spark.readStream.format("parquet")
              .schema("doc_id long, text string")
              .option("maxFilesPerTrigger", "1").load(in_dir))
    out = stream_cdc_shared_passages(stream)
    run_stream_to_memory(out, "cdc_stream_out")
    rows = spark.sql("SELECT chunk, a, b FROM cdc_stream_out").collect()
    assert len(rows) == len({(r.chunk, r.a, r.b) for r in rows}), \
        "each (chunk, pair) must be emitted exactly once"
    got: dict = {}
    for r in rows:
        got[(r.a, r.b)] = got.get((r.a, r.b), 0) + 1
    assert got == want


def test_stream_cdc_min_docs_and_cap(spark, tmp_path):
    """min_docs>2 buffers until the threshold then emits ALL pairs among
    members; a chunk crossing max_docs stops emitting and its state
    collapses to the capped sentinel; replays add nothing."""
    from deeplake_spark.streaming.neardup import stream_cdc_shared_passages

    text = "alpha beta gamma delta epsilon zeta"
    in_dir = str(tmp_path / "md_in")

    def write(ids):
        (spark.createDataFrame([(i, text) for i in ids],
                               "doc_id long, text string")
         .coalesce(1).write.mode("append").parquet(in_dir))

    write([1])
    write([2])
    write([3, 2])   # 2 replayed; 3 crosses min_docs=3
    write([4])      # exceeds max_docs=3 -> chunk capped, no new pairs
    stream = (spark.readStream.format("parquet")
              .schema("doc_id long, text string")
              .option("maxFilesPerTrigger", "1").load(in_dir))
    out = stream_cdc_shared_passages(stream, min_docs=3, max_docs=3)
    run_stream_to_memory(out, "cdc_mindocs_out")
    pairs = sorted((r.a, r.b) for r in
                   spark.sql("SELECT a, b FROM cdc_mindocs_out").collect())
    # doc 4 arrived after the cap: only the 3-member pairs exist, and
    # every chunk of the identical text emits the same pair set
    n_chunks = len(set(r.chunk for r in spark.sql(
        "SELECT chunk FROM cdc_mindocs_out").collect()))
    assert sorted(set(pairs)) == [(1, 2), (1, 3), (2, 3)]
    assert pairs == sorted([(1, 2), (1, 3), (2, 3)] * n_chunks)

    with pytest.raises(TypeError, match="integral id"):
        stream_cdc_shared_passages(
            spark.createDataFrame([("x", "t")], "doc_id string, text string"))
    with pytest.raises(ValueError, match="min_docs"):
        stream_cdc_shared_passages(
            spark.createDataFrame([(1, "t")], "doc_id long, text string"),
            min_docs=1)


def test_stream_source_cap_admits_first_k_and_replays_nothing(
        spark, tmp_path):
    """Streaming per-source cap: exactly the first k arrivals per group
    are admitted across micro-batches, an at-least-once re-delivery of
    an admitted row emits nothing, post-cap arrivals leave no trace,
    and a checkpointed second run stays idempotent."""
    from deeplake_spark.streaming.sampling import stream_source_cap

    in_dir = str(tmp_path / "cap_in")
    out_dir = str(tmp_path / "cap_out")
    ckpt = str(tmp_path / "cap_ckpt")

    def write(rows):
        (spark.createDataFrame(rows, "source string, doc_id long")
         .coalesce(1).write.mode("append").parquet(in_dir))

    def run():
        stream = (spark.readStream.format("parquet")
                  .schema("source string, doc_id long")
                  .option("maxFilesPerTrigger", "1").load(in_dir))
        out = stream_source_cap(stream, "source", k=2)
        q = (out.writeStream.outputMode("append").format("parquet")
             .option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    write([("a", 1), ("b", 10)])
    write([("a", 2), ("a", 1)])      # a hits the cap; 1 re-delivered
    write([("a", 3), ("b", 11)])     # a past cap; b admits its 2nd
    run()
    # second run (same checkpoint): replay id 2 plus a fresh post-cap id
    write([("a", 2), ("a", 4), ("b", 12)])
    run()
    got = sorted((r.grp, r.id)
                 for r in spark.read.parquet(out_dir).collect())
    assert got == [("a", 1), ("a", 2), ("b", 10), ("b", 11)], got

    with pytest.raises(TypeError, match="integral id"):
        stream_source_cap(
            spark.createDataFrame([("a", "x")],
                                  "source string, doc_id string"),
            "source", k=2)
    with pytest.raises(ValueError, match="k must be"):
        stream_source_cap(
            spark.createDataFrame([("a", 1)], "source string, doc_id long"),
            "source", k=0)


def test_stream_bloom_screen_matches_batch(spark, tmp_path):
    """Streaming Bloom admission: arrivals screened against a persisted
    filter get exactly the batch bloom_contains flags — global lane
    (literal expression) and per-group lane (stream-static broadcast
    join, unknown groups flag false); a member arrival always flags
    true (no false negatives); mixed-geometry side tables raise."""
    from deeplake_spark.operators.sketches import (
        bloom_contains, bloom_sketch, load_sketch, save_sketch)
    from deeplake_spark.streaming.sampling import stream_bloom_screen

    corpus = spark.createDataFrame(
        [(f"g{i % 2}", f"v{i}") for i in range(60)], "src string, x string")
    gpath = str(tmp_path / "bloom_global")
    ppath = str(tmp_path / "bloom_pergrp")
    save_sketch(bloom_sketch(corpus, "x", n_words=16), gpath)
    save_sketch(bloom_sketch(corpus, "x", by=["src"], n_words=16), ppath)

    arrivals = ([("g0", f"v{i}") for i in range(50, 70)]      # members+new
                + [("g1", f"v{i+9}") for i in range(55, 65)]
                + [("g9", "v1"),                               # unknown group
                   ("g0", None)])                              # NULL probe
    in_dir = str(tmp_path / "arr_in")
    (spark.createDataFrame(arrivals, "src string, x string")
     .coalesce(1).write.mode("append").parquet(in_dir))

    def run(path, out_name):
        stream = (spark.readStream.format("parquet")
                  .schema("src string, x string").load(in_dir))
        out_dir = str(tmp_path / out_name)
        q = (stream_bloom_screen(stream, path, "x")
             .writeStream.outputMode("append").format("parquet")
             .option("path", out_dir)
             .option("checkpointLocation", out_dir + "_ckpt")
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return {(r.src, r.x): r.seen_before
                for r in spark.read.parquet(out_dir).collect()}

    arr_df = spark.createDataFrame(arrivals, "src string, x string")
    gbloom = load_sketch(spark, gpath).head()
    # NULL probes flag FALSE (the filter holds no NULLs; "false is
    # definitely new" must hold under ~col filters)
    want_global = {(r.src, r.x): bool(r.f) for r in arr_df.select(
        "src", "x", F.coalesce(
            bloom_contains(F.lit(list(gbloom.bloom)), F.col("x"), 16, 5),
            F.lit(False)).alias("f")).collect()}
    assert want_global[("g0", None)] is False
    assert run(gpath, "out_g") == want_global
    # members all flag true in the global lane
    assert all(want_global[(s, x)] for (s, x) in want_global
               if x is not None and int(x[1:]) < 60 and s != "g9")

    pblooms = {r.src: list(r.bloom)
               for r in load_sketch(spark, ppath).collect()}
    want_grp = {}
    for s, x in arrivals:
        if s not in pblooms or x is None:
            want_grp[(s, x)] = False
        else:
            want_grp[(s, x)] = arr_df.limit(0).sparkSession.range(1).select(
                bloom_contains(F.lit(pblooms[s]), F.lit(x), 16, 5)
                .alias("f")).head().f
    assert run(ppath, "out_p") == want_grp

    # mixed geometry raises
    mixed = str(tmp_path / "bloom_mixed")
    save_sketch(bloom_sketch(corpus, "x", n_words=16).unionByName(
        bloom_sketch(corpus, "x", n_words=8)), mixed)
    with pytest.raises(ValueError, match="mixed geometries"):
        stream_bloom_screen(
            spark.readStream.format("parquet")
            .schema("src string, x string").load(in_dir), mixed, "x")


def test_maintain_inverted_index_replay_idempotent(spark, tmp_path):
    """r15 streaming review: foreachBatch side-effects are at-least-
    once — an epoch whose delta files landed but whose checkpoint
    commit did NOT must not double-count postings on restart-replay.
    The epoch ledger under {index}/_epochs/ makes the replay a no-op.
    Replay == the sink re-invoked with the SAME epoch_id (that is the
    foreachBatch contract; a live same-JVM restart with a deleted
    commit trips Spark 4's concurrent-checkpoint detection, so the
    sink builder is exercised directly)."""
    import os

    from deeplake_spark.operators.indexes import InvertedIndex
    from deeplake_spark.streaming.indexing import _index_sink

    idx = str(tmp_path / "idx")
    docs = spark.createDataFrame(
        [(i, f"spark fast engine doc {i}") for i in range(6)],
        "doc_id long, text string")
    sink = _index_sink(idx, "text", "doc_id", sid="cafe0001")
    sink(docs, 0)
    n1 = InvertedIndex.load(spark, idx).stats.head()["n_docs"]
    assert n1 == 6
    # crash-replay: same epoch id again — the marker makes it a no-op
    sink(docs, 0)
    assert InvertedIndex.load(spark, idx).stats.head()["n_docs"] == n1
    # a NEW epoch still appends, and markers are sid-scoped
    more = spark.createDataFrame([(10, "spark doc ten")],
                                 "doc_id long, text string")
    sink(more, 1)
    assert InvertedIndex.load(spark, idx).stats.head()["n_docs"] == 7
    assert sorted(os.listdir(os.path.join(idx, "_epochs"))) == [
        "cafe0001-0", "cafe0001-1"]
    # a DIFFERENT stream identity is not masked by this one's markers
    sink2 = _index_sink(idx, "text", "doc_id", sid="beef0002")
    sink2(more.withColumn("doc_id", more.doc_id + 1), 0)
    assert InvertedIndex.load(spark, idx).stats.head()["n_docs"] == 8


def test_async_prefetcher_propagates_producer_error(spark):
    """r15 streaming review: a producer-side failure must reach the
    consumer — swallowing it presented a failed job as a clean
    end-of-stream and a training loop finished an epoch on silently
    truncated data."""
    from deeplake_spark.streaming.feed import AsyncPrefetcher

    def boom():
        yield [1]
        yield [2]
        raise RuntimeError("executor lost")

    got = []
    with pytest.raises(RuntimeError, match="executor lost"):
        for b in AsyncPrefetcher(boom()):
            got.append(b)
    assert got == [[1], [2]]  # everything before the failure delivered


def test_feed_lanes_yield_batches_with_and_without_torch(
        spark, sf_dir, monkeypatch):
    """r15 streaming review: pytorch()'s element shape must not flip
    on an environment difference — BOTH lanes yield lists of
    batch_size rows (stub-module proof for the torch lane, the
    pydicom/av pattern); tensorflow() passes a REAL per-column
    output_signature to from_generator (output_types=None raised
    whenever tf was importable — the branch had never worked)."""
    import sys
    import types

    from deeplake_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents") \
        .select("doc_id", "text").limit(10)

    # fallback lane (no torch in this image)
    from deeplake_spark.streaming import feed
    out = list(feed.pytorch(docs, batch_size=4))
    assert [len(b) for b in out] == [4, 4, 2]

    # torch lane via stub: same batch semantics
    torch_mod = types.ModuleType("torch")
    utils_mod = types.ModuleType("torch.utils")
    data_mod = types.ModuleType("torch.utils.data")

    class _IterableDataset:
        pass

    data_mod.IterableDataset = _IterableDataset
    utils_mod.data = data_mod
    torch_mod.utils = utils_mod
    monkeypatch.setitem(sys.modules, "torch", torch_mod)
    monkeypatch.setitem(sys.modules, "torch.utils", utils_mod)
    monkeypatch.setitem(sys.modules, "torch.utils.data", data_mod)
    ds = feed.pytorch(docs, batch_size=4)
    assert isinstance(ds, _IterableDataset)
    assert [len(b) for b in ds] == [4, 4, 2]

    # tensorflow lane via stub: signature derived from the schema
    tf_mod = types.ModuleType("tensorflow")

    class _Spec:
        def __init__(self, shape, dtype):
            self.shape, self.dtype = shape, dtype

    captured = {}

    class _DS:
        @staticmethod
        def from_generator(gen, output_signature=None):
            captured["sig"] = output_signature
            captured["first"] = next(gen())
            return "tf-dataset"

    tf_mod.TensorSpec = _Spec
    tf_mod.int64 = "int64"; tf_mod.int32 = "int32"
    tf_mod.float64 = "float64"; tf_mod.float32 = "float32"
    tf_mod.string = "string"; tf_mod.bool = "bool"
    tf_mod.data = types.SimpleNamespace(Dataset=_DS)
    monkeypatch.setitem(sys.modules, "tensorflow", tf_mod)
    assert feed.tensorflow(docs) == "tf-dataset"
    sig = captured["sig"]
    assert sig["doc_id"].dtype == "int64" and sig["doc_id"].shape == []
    assert sig["text"].dtype == "string"
    assert set(captured["first"]) == {"doc_id", "text"}
    # unsupported column types raise with the fix, not an opaque error
    nested = docs.selectExpr("doc_id", "struct(text) AS s")
    with pytest.raises(ValueError, match="unsupported type"):
        feed.tensorflow(nested)


def test_stream_minhash_post_cap_arrivals_idempotent(spark, tmp_path):
    """r15 streaming review: the MinHash lane gets the bits twin's
    post-cap replay ledger — a doc arriving at a full bucket emits its
    pairs once, and an at-least-once re-delivery adds nothing to an
    append-mode sink."""
    from deeplake_spark.streaming.neardup import stream_near_dup_candidates

    text = "alpha beta gamma delta epsilon zeta eta theta"
    data_dir = str(tmp_path / "mh_in")
    out_dir = str(tmp_path / "mh_out")
    ckpt = str(tmp_path / "mh_ckpt")

    def write_rows(rows):
        (spark.createDataFrame(rows, "doc_id long, text string")
         .coalesce(1).write.mode("append").parquet(data_dir))

    def run():
        stream = (spark.readStream.format("parquet")
                  .schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", "1").load(data_dir))
        out = stream_near_dup_candidates(stream, bands=4, num_perm=16,
                                         threshold=0.5, bucket_cap=1)
        q = (out.writeStream.outputMode("append").format("parquet")
             .option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    write_rows([(1, text)])
    write_rows([(2, text)])   # cap=1: post-cap, emits pairs, ledgered
    run()
    write_rows([(2, text), (3, text)])  # 2 re-delivered + a new doc
    run()
    from collections import Counter

    rows = spark.read.parquet(out_dir).select("a", "b").collect()
    counts = Counter((r.a, r.b) for r in rows)
    member = min(r.a for r in rows)
    others = sorted({1, 2, 3} - {member})
    assert counts == {tuple(sorted((member, o))): 4 for o in others}, counts


def test_stream_cdc_negative_ids_not_muted(spark, tmp_path):
    """r15 streaming review: the capped flag is its own state field —
    the old in-band ids=[-1] sentinel made a legitimate id of -1
    (hash-derived ids are commonly negative) permanently mute its
    chunk's pairs when it arrived first."""
    from deeplake_spark.streaming.neardup import stream_cdc_shared_passages

    text = "alpha beta gamma delta epsilon zeta"
    in_dir = str(tmp_path / "neg_in")

    def write(ids):
        (spark.createDataFrame([(i, text) for i in ids],
                               "doc_id long, text string")
         .coalesce(1).write.mode("append").parquet(in_dir))

    write([-1])      # negative id arrives FIRST
    write([2])
    stream = (spark.readStream.format("parquet")
              .schema("doc_id long, text string")
              .option("maxFilesPerTrigger", "1").load(in_dir))
    out = stream_cdc_shared_passages(stream, min_docs=2, max_docs=10)
    run_stream_to_memory(out, "cdc_neg_out")
    pairs = {(r.a, r.b) for r in
             spark.sql("SELECT a, b FROM cdc_neg_out").collect()}
    assert pairs == {(-1, 2)}
