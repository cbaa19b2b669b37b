"""Operator-level tests: recall thresholds for ANN/MinHash (the
reference's own strategy for index search — py_tests/
test_embedding_quality.py asserts recall, not exact rankings),
numpy-validated tensor functions, sampling distribution checks, and
restructuring round trips."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from deeplake_spark.io import load_table


def _exact_topk(spark, sf_dir, k=10, qid=0):
    from deeplake_spark.operators.similarity import topk_cosine

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == qid).select("embedding").head()[0]
    return [r.vec_id for r in topk_cosine(e, "embedding", list(q), k=k).collect()]


def test_ivf_build_plan_scales_with_corpus():
    """nlist follows the FAISS sqrt rule with clamps; the k-means
    training set is bounded (~256 vectors/centroid, min 20k) so the
    multi-pass fit never runs over the full corpus — at 100 TB the
    corpus is touched once (assignment), not maxIter times."""
    from deeplake_spark.operators.similarity import _ivf_build_plan

    # explicit nlist is respected verbatim
    assert _ivf_build_plan(10**9, 64) == (64, 20_000)
    # auto: sqrt(N), clamped to [16, 4096]
    assert _ivf_build_plan(100, 0)[0] == 16
    assert _ivf_build_plan(1_000_000, 0)[0] == 1000
    assert _ivf_build_plan(10**12, 0)[0] == 4096
    # training target grows with nlist but never below 20k
    nlist, target = _ivf_build_plan(1_000_000, 0)
    assert target == 256 * nlist
    assert _ivf_build_plan(30_000, 16) == (16, 20_000)


def test_ivf_auto_nlist_build_and_search(spark, sf_dir, round_trip):
    """n_clusters=0 auto-sizes from the corpus and the sampled fit
    still yields a searchable index (exact hit present at full probe)."""
    from deeplake_spark.operators.similarity import (
        SearchConfig, _ivf_build_plan, build_ivf, ivf_search)

    e = load_table(spark, sf_dir, "embeddings")
    n = e.count()
    index = round_trip(build_ivf(e, n_clusters=0, seed=42))
    assert len(index.centroids) == _ivf_build_plan(n, 0)[0]
    q = e.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    exact = set(_exact_topk(spark, sf_dir, k=10))
    approx = {r.vec_id for r in ivf_search(
        index, list(q), k=10,
        config=SearchConfig(nprobe=len(index.centroids))).collect()}
    assert len(exact & approx) == 10  # full probe == exact


def test_ivf_recall(spark, sf_dir, round_trip):
    from deeplake_spark.operators.similarity import SearchConfig, build_ivf, ivf_search

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    exact = set(_exact_topk(spark, sf_dir, k=10))
    index = round_trip(build_ivf(e, n_clusters=8, seed=42))
    approx = {r.vec_id for r in ivf_search(index, list(q), k=10, config=SearchConfig.high_accuracy()).collect()}
    recall = len(exact & approx) / 10
    assert recall >= 0.9, f"IVF recall {recall} < 0.9"


def test_quantized_recall(spark, sf_dir):
    from deeplake_spark.operators.similarity import SearchConfig, quantized_search

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    exact = set(_exact_topk(spark, sf_dir, k=10))
    approx = {
        r.vec_id
        for r in quantized_search(e, "embedding", list(q), k=10,
                                  config=SearchConfig.high_accuracy()).collect()
    }
    recall = len(exact & approx) / 10
    assert recall >= 0.7, f"quantized recall {recall} < 0.7"


def test_minhash_recall_vs_exact(spark, sf_dir):
    """Candidates found by LSH must cover the high-similarity pairs."""
    from deeplake_spark.operators.dedup import jaccard_pairs, minhash_dedup_pairs

    d = load_table(spark, sf_dir, "documents")
    exact = {
        (r.a, r.b)
        for r in jaccard_pairs(d, threshold=0.5).collect()
    }
    mh = {(r.a, r.b) for r in minhash_dedup_pairs(d, threshold=0.5).collect()}
    if not exact:
        pytest.skip("no high-sim pairs at this sf")
    recall = len(exact & mh) / len(exact)
    assert recall >= 0.8, f"minhash recall {recall} < 0.8 (|exact|={len(exact)})"


def test_maxsim_matches_numpy(spark, sf_dir):
    from deeplake_spark.queries import load_all

    rows = load_all()["v09_maxsim"].fn(spark, sf_dir).collect()
    e = load_table(spark, sf_dir, "embeddings")
    pdf = e.select("vec_id", "embedding").toPandas().sort_values("vec_id")
    vecs = np.stack(pdf["embedding"].map(np.asarray))
    qm = vecs[:4].astype(np.float64)
    qn = qm / np.linalg.norm(qm, axis=1, keepdims=True)
    expected = {}
    for doc_id in range(math.ceil(len(vecs) / 8)):
        dm = vecs[doc_id * 8 : doc_id * 8 + 8].astype(np.float64)
        dn = dm / np.linalg.norm(dm, axis=1, keepdims=True)
        expected[doc_id] = (qn @ dn.T).max(axis=1).sum()
    for r in rows:
        assert abs(r.maxsim_score - round(expected[r.doc_id], 6)) < 1e-5


def test_array_functions_numpy(spark):
    from deeplake_spark.functions.arrays import (
        aavg, all_, all_strict, amax, amedian, amin, any_, aprod, astdev, asum,
        bincount, nonzero_count, nonzero_indices,
    )

    data = [([1.0, 2.0, 3.0, 4.0],), ([5.0],), ([],)]
    df = spark.createDataFrame(data, "arr: array<double>")
    c = F.col("arr")
    row = df.select(
        asum(c).alias("s"), aprod(c).alias("p"), aavg(c).alias("m"),
        amin(c).alias("mn"), amax(c).alias("mx"), astdev(c).alias("sd"),
        amedian(c).alias("md"), nonzero_count(c).alias("nz"),
    ).collect()
    assert row[0].s == 10.0 and row[0].p == 24.0 and row[0].m == 2.5
    assert row[0].mn == 1.0 and row[0].mx == 4.0
    assert abs(row[0].sd - np.std([1, 2, 3, 4])) < 1e-12
    assert row[0].md == 2.5
    assert row[1].md == 5.0 and row[2].m is None

    bools = spark.createDataFrame([([True, False],), ([],)], "b: array<boolean>")
    r = bools.select(
        any_(F.col("b")).alias("a"), all_(F.col("b")).alias("l"),
        all_strict(F.col("b")).alias("ls"),
    ).collect()
    assert r[0].a is True and r[0].l is False
    assert r[1].a is False and r[1].l is True and r[1].ls is False  # ALL vs ALL_STRICT

    bc = spark.createDataFrame([([0, 1, 1, 2],)], "x: array<int>")
    assert bc.select(bincount(F.col("x"), 4).alias("b")).head().b == [1, 2, 1, 0]
    ni = spark.createDataFrame([([0.0, 3.0, 0.0, 5.0],)], "x: array<double>")
    assert ni.select(nonzero_indices(F.col("x")).alias("i")).head().i == [1, 3]


def test_element_and_slice(spark):
    from deeplake_spark.functions.arrays import array_slice, element

    df = spark.createDataFrame([([10, 20, 30, 40, 50],)], "a: array<int>")
    c = F.col("a")
    r = df.select(
        element(c, 0).alias("e0"), element(c, -1).alias("em1"),
        array_slice(c, 1, 4).alias("s14"), array_slice(c, 0, -2).alias("s0m2"),
        array_slice(c, 3, 99).alias("soob"),
    ).head()
    assert r.e0 == 10 and r.em1 == 50
    assert r.s14 == [20, 30, 40]
    assert r.s0m2 == [10, 20, 30]
    assert r.soob == [40, 50]


def test_glob_like_translation(spark):
    from deeplake_spark.functions.text import glob_to_rlike

    assert glob_to_rlike("the*") == "^the.*$"
    assert glob_to_rlike("a?c") == "^a.c$"
    assert glob_to_rlike("x.y*") == "^x\\.y.*$"
    df = spark.createDataFrame([("the cat",), ("then",), ("cat the",)], "t: string")
    from deeplake_spark.functions.text import glob_like

    got = [r.t for r in df.filter(glob_like(F.col("t"), "the*")).collect()]
    assert sorted(got) == ["the cat", "then"]


def test_group_ungroup_roundtrip(spark, sf_dir):
    from deeplake_spark.operators.restructure import group_sequences, ungroup

    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    packed = group_sequences(e, ["user_id"], ["ts", "event_id"], ["event_type", "value"])
    assert "event_type_seq" in packed.columns and "seq_len" in packed.columns
    back = ungroup(packed, ["event_type_seq", "value_seq"], ["user_id"])
    assert back.count() == e.count()
    # per-user event multiset preserved
    orig = e.groupBy("user_id").agg(F.sort_array(F.collect_list("event_type")).alias("s"))
    rt = back.groupBy("user_id").agg(F.sort_array(F.collect_list("event_type")).alias("s"))
    diff = orig.join(rt, "user_id").filter(orig.s != rt.s)
    assert diff.count() == 0


def test_expand_tiles_numpy(spark):
    from deeplake_spark.operators.restructure import expand_tiles

    img = np.arange(16).reshape(4, 4).tolist()
    df = spark.createDataFrame([(1, img)], "id: int, img: array<array<int>>")
    out = expand_tiles(df, "img", 2, 2).collect()
    assert len(out) == 4
    tiles = {(r.tile_row, r.tile_col): r.tile for r in out}
    assert tiles[(0, 0)] == [[0, 1], [4, 5]]
    assert tiles[(2, 2)] == [[10, 11], [14, 15]]
    # overlap: stride 1 → 3x3 grid
    out2 = expand_tiles(df, "img", 2, 2, overlap=True).collect()
    assert len(out2) == 9


def test_weighted_sampling_distribution(spark, sf_dir):
    """Heavier-weighted rows must be sampled more often (A-ES)."""
    from deeplake_spark.operators.sampling import sample_by_weight

    e = load_table(spark, sf_dir, "embeddings")
    # weight: label 9 rows get 50x the weight of others
    w = F.when(F.col("label") == 9, 50.0).otherwise(1.0)
    total = e.count()
    n9 = e.filter(F.col("label") == 9).count()
    sample = sample_by_weight(e, w, 100, seed=7)
    got9 = sample.filter(F.col("label") == 9).count()
    # expected share of label-9 in sample far exceeds its population share
    assert got9 / 100 > 2 * (n9 / total), f"label9: {got9}/100 vs pop {n9}/{total}"
    assert sample.count() == 100


def test_sample_with_replacement(spark, sf_dir):
    from deeplake_spark.operators.sampling import sample_with_replacement

    e = load_table(spark, sf_dir, "embeddings")
    out = sample_with_replacement(e, F.lit(1.0), 200, seed=3)
    n = out.count()
    assert 120 <= n <= 300, n  # E[n]=200, Poisson spread


def test_simhash_near_dup_property(spark):
    """Near-identical docs must have small Hamming distance between
    simhashes; unrelated docs large."""
    from deeplake_spark.functions.text import tokenize
    from deeplake_spark.operators.dedup import simhash_64

    rows = [
        (0, "the quick brown fox jumps over the lazy dog near the river bank"),
        (1, "the quick brown fox jumps over the lazy dog near the river shore"),
        (2, "completely different content about spark query engines and vectors"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = {r.doc_id: r.simhash for r in simhash_64(df, tokenize(F.col("text"))).collect()}

    def ham(a, b):
        return bin((a & (2**64 - 1)) ^ (b & (2**64 - 1))).count("1")

    assert ham(got[0], got[1]) < ham(got[0], got[2])
    assert ham(got[0], got[1]) <= 16


def test_pooled_maxsim_recall(spark, sf_dir, round_trip):
    """Pooled-prefilter MAXSIM must recover the exact-MAXSIM top-k
    (reference PooledQuantized two-stage plan)."""
    from deeplake_spark.operators.similarity import (
        SearchConfig, build_pooled_maxsim, maxsim_search,
    )
    from deeplake_spark.functions.vector import maxsim_pandas

    e = load_table(spark, sf_dir, "embeddings")
    docs = (
        e.withColumn("doc_id", (F.col("vec_id") / 8).cast("long"))
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("vec_id"), F.col("embedding")))),
                lambda s: s["embedding"],
            ).alias("mat")
        )
    ).cache()
    qrows = e.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()
    qm = [list(r.embedding) for r in qrows]

    idx = round_trip(build_pooled_maxsim(docs, "mat", "doc_id"))
    approx = [r.doc_id for r in maxsim_search(idx, qm, k=5, config=SearchConfig.high_accuracy()).collect()]

    maxsim = maxsim_pandas()
    qm_lit = F.array(*[F.array(*[F.lit(float(v)) for v in row]) for row in qm])
    exact = [
        r.doc_id
        for r in docs.select("doc_id", F.round(maxsim(F.col("mat"), qm_lit), 6).alias("s"))
        .orderBy(F.desc("s"), "doc_id")
        .limit(5)
        .collect()
    ]
    recall = len(set(exact) & set(approx)) / 5
    assert recall >= 0.8, f"pooled maxsim recall {recall}: {approx} vs {exact}"


def test_near_dup_lsh_recall(spark):
    """Sign-bit LSH banding must recover >=90% of true cosine>=0.99
    pairs found by the exact all-pairs scan (planted near-dups: base
    vectors plus tiny-perturbation copies)."""
    import random

    from deeplake_spark.operators.similarity import near_dup_pairs_lsh

    rng = random.Random(7)
    rows = []
    vid = 0
    for i in range(60):
        base = [rng.uniform(-1, 1) for _ in range(32)]
        rows.append((vid, base)); vid += 1
        if i % 3 == 0:  # plant a near-duplicate of every third vector
            dup = [x + rng.uniform(-1e-3, 1e-3) for x in base]
            rows.append((vid, dup)); vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").repartition(4)

    got = {(r.a, r.b) for r in near_dup_pairs_lsh(
        df, "embedding", "vec_id", threshold=0.99, dim=32).collect()}

    from deeplake_spark.functions.vector import cosine_similarity

    a = df.select(F.col("vec_id").alias("a"), F.col("embedding").alias("ea"))
    b = df.select(F.col("vec_id").alias("b"), F.col("embedding").alias("eb"))
    exact = {
        (r.a, r.b)
        for r in a.join(b, F.col("a") < F.col("b"))
        .filter(cosine_similarity(F.col("ea"), F.col("eb")) >= 0.99)
        .select("a", "b").collect()
    }
    assert len(exact) >= 20  # the planted dups are really there
    recall = len(got & exact) / len(exact)
    assert recall >= 0.9, f"LSH near-dup recall {recall}"
    assert got <= exact  # verification step admits no false positives


def test_sample_replacement_high_lambda(spark):
    """Poisson copy counts must stay unbiased when lambda > 1 (the old
    3-copy cap underbiased resampling n comparable to N): n = 3N with
    uniform weights gives E[total] = 3N; exact inverse-CDF keeps the
    total within normal spread."""
    from deeplake_spark.operators.sampling import sample_with_replacement

    n_rows = 2000
    df = spark.range(n_rows).withColumn("w", F.lit(1.0))
    out = sample_with_replacement(df, F.col("w"), n=3 * n_rows, seed=11)
    total = out.count()
    # E = 6000, sd = sqrt(6000) ~ 77; 5 sigma ~ 390
    assert 5600 <= total <= 6400, total
    # a max-draw of exactly 3 everywhere would betray the old cap
    per_row = out.groupBy("id").count()
    assert per_row.agg(F.max("count")).head()[0] > 3


def test_sample_replacement_fraction_mode(spark):
    """fraction= computes the target inside the broadcast aggregate —
    no driver count; E[total] = ceil(N * fraction)."""
    from deeplake_spark.operators.sampling import sample_with_replacement

    df = spark.range(4000).withColumn("w", F.lit(1.0))
    out = sample_with_replacement(df, F.col("w"), fraction=0.5, seed=5)
    total = out.count()
    assert 1700 <= total <= 2300, total  # E = 2000
    with pytest.raises(ValueError):
        sample_with_replacement(df, F.col("w"))
    with pytest.raises(ValueError):
        sample_with_replacement(df, F.col("w"), n=5, fraction=0.5)


def test_group_runs_null_keys(spark):
    """NULL group keys behave like any other key value (eqNullSafe):
    NULL→X and X→NULL both start a new run, consecutive NULLs pack into
    one run — matched against a sequential-pass model."""
    from deeplake_spark.operators.restructure import group_runs

    seq = ["a", "a", None, None, "a", None, "b", None, None, "b", "b", None]
    rows = [(i, k) for i, k in enumerate(seq)]
    df = spark.createDataFrame(rows, "i long, k string").repartition(4)

    out = group_runs(df, ["k"], ["i"], ["i"]).collect()
    got = sorted((r.run_id, r.k, [int(x) for x in r.i_seq]) for r in out)

    expected, cur_k, cur = [], object(), []
    for i, k in rows:
        if k != cur_k and cur:
            expected.append((len(expected), cur_k, cur))
            cur = []
        cur_k = k
        cur.append(i)
    expected.append((len(expected), cur_k, cur))
    assert got == expected


def test_group_runs_partition_stitch(spark):
    """Run detection is per-partition + boundary stitch: runs that span
    range-partition boundaries must still come out as ONE run with
    dense sequential ids (equivalent to a single global pass)."""
    from deeplake_spark.operators.restructure import group_runs

    # long runs (length 40-160) so several straddle partition edges
    import random

    rng = random.Random(3)
    rows, key, i = [], 0, 0
    while i < 3000:
        length = rng.randint(40, 160)
        for _ in range(min(length, 3000 - i)):
            rows.append((i, f"k{key % 7}"))
            i += 1
        key += 1
    df = spark.createDataFrame(rows, "i long, k string").repartition(16)

    out = group_runs(df, ["k"], ["i"], ["i"]).collect()
    got = sorted((r.run_id, r.k, [int(x) for x in r.i_seq]) for r in out)

    # expected runs from a sequential pass
    expected, cur_k, cur = [], None, []
    for i, k in rows:
        if k != cur_k and cur:
            expected.append((len(expected), cur_k, cur))
            cur = []
        cur_k = k
        cur.append(i)
    expected.append((len(expected), cur_k, cur))
    assert got == expected


def test_dup_window_stats_planted_duplicates(spark):
    from deeplake_spark.operators.dedup import dup_window_stats

    shared = "one two three four five six seven eight"  # exactly w=8 tokens
    rows = [
        (0, shared + " tail0 unique0"),          # shares 1 window with doc 1
        (1, "head1 " + shared),                  # shares 1 window with doc 0
        (2, "all unique words here nothing matches anything else ever"),
        (3, "short doc"),                        # < 8 tokens: no windows
        (4, shared + " " + shared),              # intra-doc repeat + cross-doc
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in dup_window_stats(df, w=8, min_docs=2).collect()}

    assert 3 not in out                       # no windows → absent
    assert out[2].n_dup == 0 and out[2].dup_ratio == 0.0
    # doc 0: 10 tokens → 3 windows; the pure `shared` window duplicates
    assert out[0].n_windows == 3 and out[0].n_dup == 1
    assert out[1].n_windows == 2 and out[1].n_dup == 1  # 9 tokens → 2 windows
    # doc 4: 16 tokens → 9 windows, every one a rotation containing the
    # shared phrase; the `shared` window occurs twice and both
    # occurrences count (occurrence semantics, not distinct-window)
    assert out[4].n_windows == 9 and out[4].n_dup == 2
    assert abs(out[0].dup_ratio - round(1 / 3, 6)) < 1e-9


def test_connected_components_chain_and_star(spark):
    from deeplake_spark.operators.dedup import connected_components

    # chain 0-1-2-3 (diameter > 1 forces multiple propagation rounds),
    # star 10-{11,12}, isolated edge 20-21
    edges = spark.createDataFrame(
        [(1, 0), (1, 2), (2, 3), (10, 11), (10, 12), (21, 20)], ["a", "b"])
    got = {r.id: r.label for r in connected_components(edges).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0,
                   10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_pair_operator_construction_runs_no_jobs(spark, monkeypatch):
    """Building the jaccard/minhash pair DataFrames must not trigger
    driver-side actions (the posting-relation cache fills on the first
    ACTION, not at construction — at 100 TB it is a written side table
    and construction stays pure plan assembly)."""
    import pyspark.sql.dataframe as D

    from deeplake_spark.operators.dedup import jaccard_pairs, minhash_dedup_pairs

    df = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog %d" % (i % 7))
         for i in range(40)], "doc_id long, text string")
    real_collect = D.DataFrame.collect

    def boom(self, *a, **kw):
        raise AssertionError("driver-side action during operator construction")

    for action in ("count", "collect", "toPandas", "head", "take"):
        monkeypatch.setattr(D.DataFrame, action, boom)
    j = jaccard_pairs(df, threshold=0.5)
    m = minhash_dedup_pairs(df, threshold=0.5)
    monkeypatch.undo()
    assert len(real_collect(j)) > 0
    assert len(real_collect(m)) > 0


def test_connected_components_star_equivalence(spark):
    """Property: star contraction (large/small-star) labels every node
    identically to min-label propagation on random graphs — including
    a deep chain, where star contraction's O(log n) rounds matter."""
    import numpy as np

    from deeplake_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    for seed in (0, 1, 2):
        rng = np.random.default_rng(seed)
        n = 60
        pairs = rng.integers(0, n, size=(40, 2)).tolist()
        edges = spark.createDataFrame(
            [(int(a), int(b)) for a, b in pairs if a != b], ["a", "b"])
        lp = {r.id: r.label for r in connected_components(edges).collect()}
        st = {r.id: r.label for r in connected_components_star(edges).collect()}
        assert lp == st, f"seed {seed}"

    # deep chain 0-1-2-...-19: diameter 19, still exact
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(19)], ["a", "b"])
    st = {r.id: r.label for r in
          connected_components(chain, algorithm="star").collect()}
    assert st == {i: 0 for i in range(20)}


def test_connected_components_string_ids(spark):
    """Non-numeric ids: the decimal label-sum convergence probe carries
    no signal (try_cast → NULL) — the exact changed-row fallback must
    still converge and label correctly."""
    from deeplake_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("c", "d"), ("y", "x")], ["a", "b"])
    got = {r.id: r.label for r in connected_components(edges).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a", "x": "x", "y": "x"}


def test_assign_splits_deterministic_and_stable(spark):
    """Hash-split assignment: fractions approximately honored, total
    partition of rows, and stable under subsetting/appends (a row's
    split never depends on which other rows are present)."""
    from pyspark.sql import functions as F

    from deeplake_spark.operators.sampling import assign_splits

    df = spark.range(10_000).withColumnRenamed("id", "doc_id")
    counts = {r["split"]: r["count"]
              for r in assign_splits(df).groupBy("split").count().collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 10_000
    assert 0.87 < counts["train"] / 10_000 < 0.93
    assert 0.03 < counts["val"] / 10_000 < 0.07

    # subset stability: same ids -> same splits regardless of corpus
    sub = assign_splits(df.limit(5_000)).withColumnRenamed("split", "s2")
    j = assign_splits(df).join(sub, "doc_id")
    assert j.filter(F.col("split") != F.col("s2")).count() == 0

    # salt rotation draws a different assignment
    rot = assign_splits(df, salt="v2").withColumnRenamed("split", "s3")
    moved = assign_splits(df).join(rot, "doc_id").filter(
        F.col("split") != F.col("s3")).count()
    assert moved > 0


def test_cross_near_dup_lsh_finds_planted_pairs(spark, sf_dir):
    """Cross-dataset LSH: planted scaled copies (sign-identical, so
    banding recall is deterministic) are all recovered with cos 1.0,
    and no false pairs appear above the threshold; the plan joins
    banded sides — never a cartesian of eval x corpus."""
    from pyspark.sql import functions as F

    from deeplake_spark.io import load_table
    from deeplake_spark.operators.similarity import cross_near_dup_lsh

    e = load_table(spark, sf_dir, "embeddings")
    planted = e.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 500).alias("vec_id"),
        F.transform(F.col("embedding").cast("array<double>"),
                    lambda x: x * 0.5).alias("embedding"),
    )
    pairs = cross_near_dup_lsh(planted, e, threshold=0.99)
    got = {(r.a, r.b) for r in pairs.collect()}
    assert {(i + 500, i) for i in range(10)} <= got
    assert all(b == a - 500 for a, b in got)  # no natural dups in testdata
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_ensure_parallelism_probe_cached(spark):
    """The plan→RDD partition probe memoizes per plan."""
    from deeplake_spark import io, memo

    df = spark.range(100)
    memo.PARTITION_PROBE_CACHE.clear()
    out1 = io.ensure_parallelism(df)
    assert len(memo.PARTITION_PROBE_CACHE) == 1
    # second call with an equivalent plan must hit the cache — proven by
    # monkeypatching the RDD conversion out entirely
    import pyspark.sql.dataframe as _pdf
    real_rdd = _pdf.DataFrame.rdd
    def _boom(self):
        raise AssertionError("RDD probe should be cached")
    try:
        _pdf.DataFrame.rdd = property(_boom)
        out2 = io.ensure_parallelism(spark.range(100))
    finally:
        _pdf.DataFrame.rdd = real_rdd
    assert out1.schema == out2.schema
    # a session left at Spark's default shuffle-partition count (a
    # fresh default session sets no conf) keys the probe too
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.unset(key)
    try:
        assert io.ensure_parallelism(spark.range(7)).count() == 7
    finally:
        spark.conf.set(key, prev)


def test_ensure_parallelism_cache_not_shared_across_datasets(spark, tmp_path):
    """r15 io.py review (trap 19): the probe cache key must include the
    scanned FILES — two same-shape scans over DIFFERENT parquet dirs
    share a canonicalized plan shape (canon hides paths; semanticHash
    is 32-bit), and a key on semanticHash alone served dataset A's
    partition count to dataset B: a well-split B would inherit A's
    n=1 and repartition pointlessly, or worse an under-split B would
    inherit A's big count and SKIP the repartition this helper exists
    to add."""
    from deeplake_spark import io, memo

    one = str(tmp_path / "one")
    many = str(tmp_path / "many")
    spark.range(1000).coalesce(1).write.parquet(one)
    spark.range(1000).repartition(20).write.parquet(many)
    memo.PARTITION_PROBE_CACHE.clear()
    a = io.ensure_parallelism(spark.read.parquet(one))
    assert a.rdd.getNumPartitions() > 1          # under-split: boosted
    b_df = spark.read.parquet(many)
    b = io.ensure_parallelism(b_df)
    assert b is b_df                              # well-split: untouched
    assert len(memo.PARTITION_PROBE_CACHE) == 2    # distinct keys


def test_with_row_id_namespaced_temps(spark):
    """r15 io.py review: with_row_id's temps are fully namespaced —
    an input column literally named __pid/__mono/__base survives with
    its values intact (pre-fix it was overwritten then dropped), and a
    collision with the __wro_* namespace itself raises instead of
    silently dropping the result."""
    import pytest as pt

    from deeplake_spark.io import with_row_id

    df = spark.createDataFrame(
        [(1, 10), (2, 20)], "__pid long, __base long")
    out = with_row_id(df).orderBy("_row_id").collect()
    assert [(r["__pid"], r["__base"]) for r in out] == [(1, 10), (2, 20)]
    assert [r["_row_id"] for r in out] == [0, 1]

    with pt.raises(ValueError, match="__wro_"):
        with_row_id(df, col_name="__wro_shift")
    clash = spark.createDataFrame([(1,)], "__wro_pid long")
    with pt.raises(ValueError, match="__wro_"):
        with_row_id(clash)


def test_mixture_sample_rates_and_stability(spark):
    """Domain-mixture sampling: per-domain keep fractions approximately
    honored, deterministic, append-stable (a row's keep decision never
    depends on which other rows are present), and rate=1.0/0.0 exact."""
    from pyspark.sql import functions as F

    from deeplake_spark.operators.sampling import mixture_sample

    df = spark.range(12_000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("src"), (F.col("id") % 3).cast("string")).alias("source"),
    )
    rates = {"src0": 1.0, "src1": 0.5, "src2": 0.0}
    kept = mixture_sample(df, "source", rates)
    counts = {r["source"]: r["count"]
              for r in kept.groupBy("source").count().collect()}
    assert counts.get("src0") == 4_000          # rate 1.0 keeps everything
    assert "src2" not in counts                  # rate 0.0 keeps nothing
    assert 0.44 < counts["src1"] / 4_000 < 0.56  # ~half

    # append stability: the kept set over a subset is the subset of the
    # kept set — no cross-row dependence
    sub_kept = {r.doc_id for r in mixture_sample(
        df.filter(F.col("doc_id") < 6_000), "source", rates).collect()}
    full_kept = {r.doc_id for r in kept.collect()}
    assert sub_kept == {i for i in full_kept if i < 6_000}

    # unlisted domain falls back to default_rate
    other = df.withColumn("source", F.lit("srcX"))
    assert mixture_sample(other, "source", rates, default_rate=0.0).count() == 0

    import pytest as _pytest
    with _pytest.raises(ValueError):
        mixture_sample(df, "source", {"src0": 1.5})


def test_temperature_mixture_rates_and_proportionality(spark):
    """Temperature mixture: rate formula n^(a-1)/max, kept counts
    approximately ∝ n^alpha, alpha=1 keeps everything, alpha<=0 raises."""
    from deeplake_spark.operators.sampling import temperature_mixture

    # skewed domains: 8000 / 2000 / 500
    df = spark.range(10_500).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 8_000, "big")
         .when(F.col("id") < 10_000, "mid")
         .otherwise("small").alias("dom"),
    )
    kept, rates = temperature_mixture(df, "dom", alpha=0.5, id_col="doc_id")
    r = {row["dom"]: row for row in rates.collect()}
    assert r["small"]["keep_rate"] == 1.0          # smallest domain kept whole
    assert abs(r["big"]["keep_rate"] - (8000 / 500) ** -0.5) < 1e-6
    assert abs(r["mid"]["keep_rate"] - (2000 / 500) ** -0.5) < 1e-6
    counts = {row["dom"]: row["count"]
              for row in kept.groupBy("dom").count().collect()}
    # kept_d ∝ n_d^0.5 → big/small target = sqrt(8000*500)=2000, mid = 1000
    assert counts["small"] == 500
    assert 0.85 * 2000 < counts["big"] < 1.15 * 2000
    assert 0.85 * 1000 < counts["mid"] < 1.15 * 1000

    # alpha = 1 → every rate 1.0, nothing dropped
    kept1, rates1 = temperature_mixture(df, "dom", alpha=1.0)
    assert kept1.count() == 10_500
    assert all(row["keep_rate"] == 1.0 for row in rates1.collect())

    with pytest.raises(ValueError):
        temperature_mixture(df, "dom", alpha=0.0)


def test_chunk_fixed_tokens_reconstructs_documents(spark):
    """Chunking partitions each doc's token stream exactly: chunk sizes
    are `chunk` except the tail, indexes are dense from 0, and joining
    the chunk texts back in order reproduces the tokenized document."""
    from deeplake_spark.functions.text import tokenize
    from deeplake_spark.operators.restructure import chunk_fixed_tokens

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(75))),   # 75 toks → 32/32/11
            (2, " ".join(f"x{i}" for i in range(32))),   # exactly one chunk
            (3, "solo"),                                  # short tail only
            (4, ""),                                      # empty → no rows
            (5, "   "),                                   # whitespace → no rows
        ],
        "doc_id long, text string",
    )
    out = chunk_fixed_tokens(docs, chunk=32).orderBy("doc_id", "chunk_idx")
    rows = out.collect()
    assert [r["doc_id"] for r in rows] == [1, 1, 1, 2, 3]
    assert [r["chunk_idx"] for r in rows] == [0, 1, 2, 0, 0]
    assert [r["n_tokens"] for r in rows] == [32, 32, 11, 32, 1]
    # every chunk_text carries exactly n_tokens tokens and reassembles
    by_doc: dict[int, list[str]] = {}
    for r in rows:
        assert len(r["chunk_text"].split(" ")) == r["n_tokens"]
        by_doc.setdefault(r["doc_id"], []).append(r["chunk_text"])
    originals = {r["doc_id"]: " ".join(r["toks"]) for r in docs.select(
        "doc_id", tokenize(F.col("text")).alias("toks")).collect()}
    for doc_id, chunks in by_doc.items():
        assert " ".join(chunks) == originals[doc_id]


def test_lm_surprisal_queries_survive_zero_token_docs(spark, tmp_path):
    """Driver-regenerated testdata may carry empty / whitespace-only
    documents (CLAUDE.md: sniff, don't assume): the bigram query's
    pair-slice must not throw ANSI INVALID_PARAMETER_VALUE.LENGTH on a
    zero-token array, and one-token docs contribute no pairs."""
    from deeplake_spark.queries import load_all

    reg = load_all()
    docs = spark.createDataFrame(
        [(1, "a b a b c"), (2, ""), (3, "   "), (4, "solo"),
         (5, "a b")],
        "doc_id long, text string",
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = reg["t27_bigram_surprisal"].fn(spark, str(tmp_path)).collect()
    # docs 2/3 (zero tokens) and 4 (one token) emit no bigram rows
    assert [r.doc_id for r in out] == [1, 5]
    assert [r.n_bigrams for r in out] == [4, 1]
    uni = reg["t24_unigram_surprisal"].fn(spark, str(tmp_path)).collect()
    assert [r.doc_id for r in uni] == [1, 4, 5]


def test_semantic_dedup_keeper_rule(spark):
    """Pairwise SemDeDup: the less-centroid-similar member of a >=tau
    pair survives (diversity keeper); exact centroid_sim ties keep the
    smaller id; singletons and sub-threshold members are kept."""
    from deeplake_spark.operators.similarity import semantic_dedup

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),   # seed c0 (centroid_sim 1.0)
        (1, [0.0, 1.0, 0.0, 0.0]),   # seed c1
        (2, [1.0, 0.01, 0.0, 0.0]),  # dup of 0, slightly off-centroid
        (3, [0.0, 1.0, 0.0, 0.0]),   # exact dup of 1 (sim tie)
        (4, [0.6, 0.8, 0.0, 0.0]),   # cluster 1, below tau vs everything
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r for r in semantic_dedup(df, n_clusters=2, tau=0.99).collect()}
    assert not out[0].kept          # dominated by the more diverse 2
    assert out[2].kept
    assert out[1].kept              # tie with 3 -> smaller id wins
    assert not out[3].kept
    assert out[4].kept              # no >=tau neighbor
    assert out[2].cluster == 0 and out[4].cluster == 1


def test_semantic_dedup_components_matches_pairwise_on_cliques(spark):
    """On clique-shaped duplicate groups (planted exact copies: every
    pair >=tau) the components policy and the pairwise policy keep the
    same rows — one most-diverse member per group."""
    from deeplake_spark.operators.similarity import semantic_dedup

    import random
    rng = random.Random(3)
    rows = []
    vid = 0
    for _ in range(20):
        base = [rng.uniform(-1, 1) for _ in range(16)]
        for scale in (1.0, 1.1, 0.9):  # cosine-invariant copies: a clique
            rows.append((vid, [x * scale for x in base])); vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").repartition(4)
    # explicit well-separated centroids: the default smallest-id seeds
    # would be three PARALLEL copies of one vector here, and ulp-level
    # assignment ties can then scatter a triple across clusters
    centroids = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(4)]
    kw = dict(centroids=centroids, tau=0.999)
    pw = {r.vec_id for r in semantic_dedup(df, **kw).collect() if r.kept}
    cc = {r.vec_id for r in
          semantic_dedup(df, policy="components", **kw).collect() if r.kept}
    assert pw == cc
    assert len(pw) == 20  # one keeper per planted triple


def test_semantic_dedup_chain_policies_differ_as_documented(spark):
    """On a chain a--b--c (a~b and b~c >=tau, a~c below) pairwise keeps
    both endpoints while components keeps exactly one of the three —
    the documented semantic difference between the policies."""
    import math

    from deeplake_spark.operators.similarity import semantic_dedup

    # unit vectors at angles 0, theta, 2*theta: cos(theta) >= tau but
    # cos(2*theta) < tau -> a duplicate chain, not a clique
    theta = math.radians(14.0)
    def vec(t):
        return [math.cos(t), math.sin(t), 0.0, 0.0]
    rows = [(0, vec(0.0)), (1, vec(theta)), (2, vec(2 * theta))]
    # centroid seeds are ids 0,1 -> everything lands in one of two
    # clusters; force ONE cluster so the chain stays together
    centroids = [(0, vec(theta))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    tau = 0.95  # cos(14deg)=0.970 >= tau, cos(28deg)=0.883 < tau
    pw = {r.vec_id for r in semantic_dedup(
        df, centroids=centroids, tau=tau).collect() if r.kept}
    cc = {r.vec_id for r in semantic_dedup(
        df, centroids=centroids, tau=tau, policy="components").collect() if r.kept}
    # pairwise: 1 (the middle, most centroid-similar) is dominated by
    # both endpoints; 0 and 2 have no dominating >=tau neighbor
    assert pw == {0, 2}
    # components: {0,1,2} is one component -> exactly one keeper, the
    # least-centroid-similar member (0 or 2; ids break the exact tie
    # only if sims tie exactly)
    assert len(cc) == 1 and cc <= {0, 2}


def test_semantic_dedup_indexed_lane(spark):
    """The IVF-backed lane shares the pruning machinery: on a manually
    built index (known centroids + assignments) it applies the same
    keeper rule; on a real build_ivf index, exact duplicate vectors
    always share a cluster, so exactly one of each planted pair
    survives (smaller id on the exact centroid_sim tie)."""
    import random

    from deeplake_spark.operators.similarity import (
        IVFIndex,
        build_ivf,
        semantic_dedup_indexed,
    )

    # manual index: two clusters, one >=tau pair in cluster 0
    asg = spark.createDataFrame(
        [(0, [1.0, 0.0], 0), (2, [1.0, 0.01], 0), (1, [0.0, 1.0], 1)],
        "vec_id long, embedding array<double>, cluster int")
    idx = IVFIndex(assignments=asg,
                   centroids=[(0, [1.0, 0.0]), (1, [0.0, 1.0])],
                   vec_col="embedding", id_col="vec_id")
    out = {r.vec_id: r for r in semantic_dedup_indexed(idx, tau=0.99).collect()}
    assert not out[0].kept and out[2].kept and out[1].kept

    # real kmeans index over planted exact copies
    rng = random.Random(11)
    rows = []
    for i in range(60):
        v = [rng.uniform(-1, 1) for _ in range(16)]
        rows.append((i, v))
        if i < 20:
            rows.append((1000 + i, list(v)))  # exact copy
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    built = build_ivf(df, "embedding", "vec_id", n_clusters=8, seed=5)
    got = {r.vec_id: r for r in
           semantic_dedup_indexed(built, tau=0.999999).collect()}
    for i in range(20):
        # identical vectors share a k-means cell; exact tie -> min id kept
        assert got[i].kept and not got[1000 + i].kept
    assert all(got[i].kept for i in range(20, 60))


def test_dsir_select_enriches_target_like_docs(spark):
    """DSIR importance resampling must overwhelmingly select raw docs
    whose bigram distribution matches the target domain: two disjoint
    vocabularies, target drawn from vocab A -> selected set is
    dominated by A-vocab docs; selection is salt-deterministic."""
    import random

    from deeplake_spark.operators.sampling import dsir_select

    rng = random.Random(7)
    va = [f"alpha{i}" for i in range(30)]
    vb = [f"beta{i}" for i in range(30)]
    rows = []
    for i in range(200):
        vocab = va if i < 100 else vb
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(30))))
    raw = spark.createDataFrame(rows, "doc_id long, text string")
    target = spark.createDataFrame(
        [(1000 + i, " ".join(rng.choice(va) for _ in range(30)))
         for i in range(40)], "doc_id long, text string")
    sel = dsir_select(raw, target, k=50, salt="s1")
    ids = [r.doc_id for r in sel.collect()]
    assert len(ids) == 50
    frac_a = sum(1 for i in ids if i < 100) / 50
    assert frac_a >= 0.9, f"only {frac_a:.0%} of selected docs are target-like"
    # deterministic under the same salt, different under another
    again = [r.doc_id for r in dsir_select(raw, target, k=50, salt="s1").collect()]
    assert again == ids
    other = [r.doc_id for r in dsir_select(raw, target, k=50, salt="s2").collect()]
    assert other != ids


def test_knn_label_propagation_lanes_agree(spark, sf_dir, round_trip):
    """The IVF lane of knn_label_propagation at FULL probe must predict
    the same labels as the exact lane (index built over the labeled
    subset only, so neighbor sets coincide)."""
    from deeplake_spark.operators.similarity import (
        SearchConfig, build_ivf, knn_label_propagation)

    e = load_table(spark, sf_dir, "embeddings")
    masked = e.select(
        "vec_id", "embedding",
        F.when(F.col("vec_id") % 5 == 0, F.lit(None)).otherwise(
            F.col("label")).alias("label"),
    )
    exact = {r.vec_id: (r.pred_label, r.votes)
             for r in knn_label_propagation(masked, k=5).collect()}
    labeled = masked.filter(F.col("label").isNotNull())
    idx = round_trip(build_ivf(labeled, "embedding", "vec_id", n_clusters=8,
                               seed=42))
    routed = {r.vec_id: (r.pred_label, r.votes)
              for r in knn_label_propagation(
                  masked, k=5, index=idx,
                  config=SearchConfig(nprobe=8)).collect()}
    assert routed == exact
    assert len(exact) > 0


def test_dsir_select_empty_target_degrades_to_uniform(spark):
    """An empty (or featureless) target must not null the weights: the
    smoothed target distribution degrades to uniform, so selection is
    inverse-raw-frequency — every doc still gets a finite key."""
    from deeplake_spark.operators.sampling import dsir_select

    raw = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2}") for i in range(20)],
        "doc_id long, text string")
    out = dsir_select(raw, raw.filter("doc_id < 0"), k=10).collect()
    assert len(out) == 10
    assert all(r.logw is not None and r.gkey is not None for r in out)


def test_semantic_dedup_empty_corpus_schema_stable(spark):
    """Empty corpus (no seed centroids): zero rows with the full output
    schema, not an array_max(array()) VOID analysis crash."""
    from deeplake_spark.operators.similarity import semantic_dedup

    df = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = semantic_dedup(df, n_clusters=4, tau=0.9)
    assert [f.name for f in out.schema.fields][-3:] == [
        "cluster", "centroid_sim", "kept"]
    assert out.count() == 0


def test_kmv_sketch_properties(spark):
    """KMV: exact while not full; within ~2/sqrt(k) relative error when
    full; merge(a,b) estimates the union and equals the sketch built
    on the concatenated data (order-free mergeability); global lane
    (no partitions) agrees with the windowed lane."""
    from deeplake_spark.operators.sketches import (
        kmv_estimate, kmv_merge, kmv_sketch)

    k = 64
    small = spark.createDataFrame(
        [(f"v{i}",) for i in range(20)], "x string")
    sk_small = kmv_sketch(small, "x", k=k).head().sketch
    assert len(sk_small) == 20
    got = spark.range(1).select(
        kmv_estimate(F.lit(sk_small), k=k).alias("e")).head().e
    assert got == 20.0  # exact below k

    big_a = spark.createDataFrame([(f"a{i}",) for i in range(3000)], "x string")
    big_b = spark.createDataFrame(
        [(f"a{i}",) for i in range(1500, 3000)]
        + [(f"b{i}",) for i in range(1500)], "x string")
    sa = kmv_sketch(big_a, "x", k=k).head().sketch
    sb = kmv_sketch(big_b, "x", k=k).head().sketch
    ea = spark.range(1).select(kmv_estimate(F.lit(sa), k=k).alias("e")).head().e
    assert abs(ea - 3000) / 3000 < 0.35  # 2/sqrt(64) = 0.25 + slack
    # union: |a ∪ b| = 4500
    merged = spark.range(1).select(
        kmv_estimate(kmv_merge(F.lit(sa), F.lit(sb), k=k), k=k).alias("e")
    ).head().e
    both = big_a.unionByName(big_b)
    direct = kmv_sketch(both, "x", k=k).head().sketch
    ed = spark.range(1).select(
        kmv_estimate(F.lit(direct), k=k).alias("e")).head().e
    assert merged == ed  # merge == sketch-of-union, hash-exactly
    assert abs(merged - 4500) / 4500 < 0.35
    # grouped lane matches the global lane per group — the group column
    # must be DATA-DERIVED: a constant F.lit tag constant-folds out of
    # the window partition spec and the test would silently exercise
    # the banned global-window shape instead (perf trap 7)
    tagged = big_a.withColumn("g", F.substring("x", 1, 1))
    per_group = kmv_sketch(tagged, "x", by=["g"], k=k).head().sketch
    assert list(per_group) == list(sa)
    # NULL values are not set members: they must neither steal a top-k
    # slot nor shrink the sketch
    with_null = small.unionByName(
        spark.createDataFrame([(None,)], "x string"))
    assert len(kmv_sketch(with_null, "x", k=k).head().sketch) == 20


def test_cdc_chunks_shift_robust_shared_passages(spark):
    """Content-defined chunking: chunks reassemble the document
    exactly, and a passage pasted at a DIFFERENT offset in another
    document still produces identical interior chunks — the shift
    robustness fixed-stride windows lack."""
    import random

    from deeplake_spark.operators.dedup import cdc_chunks, cdc_shared_passages

    rng = random.Random(13)
    vocab = [f"w{i}" for i in range(200)]
    passage = " ".join(rng.choice(vocab) for _ in range(120))
    pre_a = " ".join(rng.choice(vocab) for _ in range(37))
    pre_b = " ".join(rng.choice(vocab) for _ in range(11))  # different shift
    doc_a = f"{pre_a} {passage}"
    doc_b = f"{pre_b} {passage} trailing tokens here"
    doc_c = " ".join(rng.choice(vocab) for _ in range(150))  # unrelated
    df = spark.createDataFrame(
        [(0, doc_a), (1, doc_b), (2, doc_c)], "doc_id long, text string")

    chunks = cdc_chunks(df).collect()
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append((r.seg, r.chunk))
    for did, text in [(0, doc_a), (1, doc_b), (2, doc_c)]:
        joined = " ".join(c for _, c in sorted(by_doc[did]))
        assert joined == text  # chunks partition the token stream

    pairs = {(r.a, r.b): r.n_shared_chunks
             for r in cdc_shared_passages(df).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] >= 3  # interior chunks align
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_kmv_persisted_incremental_equals_full_build(spark, tmp_path):
    """append_kmv_delta: sketch half the data, append the other half —
    the maintained side table equals a fresh full-corpus build
    hash-exactly, per group and globally (merge == sketch-of-union)."""
    from deeplake_spark.operators.sketches import (
        append_kmv_delta, kmv_sketch, load_sketch, save_sketch)

    rows = [(f"g{i % 3}", f"v{i}") for i in range(900)]
    full = spark.createDataFrame(rows, "g string, x string")
    first = full.filter(F.substring("x", 2, 10).cast("long") < 450)
    second = full.filter(F.substring("x", 2, 10).cast("long") >= 450)
    path = str(tmp_path / "kmv")
    save_sketch(kmv_sketch(first, "x", by=["g"], k=32), path)
    append_kmv_delta(second, "x", path, by=["g"], k=32)
    got = {r.g: list(r.sketch) for r in load_sketch(spark, path).collect()}
    want = {r.g: list(r.sketch)
            for r in kmv_sketch(full, "x", by=["g"], k=32).collect()}
    assert got == want


def test_kmv_build_k_persisted_and_guarded(spark, tmp_path):
    """The build k travels WITH the sketch (a ``k`` column in the side
    table): estimates read it via F.col('k') instead of re-stating a
    literal, and append_kmv_delta refuses a mismatched k — a k=32
    sketch read at k=64 would silently return size-as-exact (32.0), a
    biased estimate with no error."""
    from deeplake_spark.operators.sketches import (
        append_kmv_delta, kmv_estimate, kmv_sketch, load_sketch, save_sketch)

    df = spark.createDataFrame(
        [(f"g{i % 2}", f"v{i}") for i in range(400)], "g string, x string")
    path = str(tmp_path / "kmv")
    save_sketch(kmv_sketch(df, "x", by=["g"], k=32), path)
    stored = load_sketch(spark, path)
    assert set(r.k for r in stored.select("k").collect()) == {32}
    # estimate from the persisted k column == estimate at the literal k
    via_col = {r.g: r.e for r in stored.select(
        "g", kmv_estimate(F.col("sketch"), F.col("k")).alias("e")).collect()}
    via_lit = {r.g: r.e for r in stored.select(
        "g", kmv_estimate(F.col("sketch"), 32).alias("e")).collect()}
    assert via_col == via_lit
    with pytest.raises(ValueError,
                       match=r"built with.*\(32, 0\)"):
        append_kmv_delta(df, "x", path, by=["g"], k=64)


def test_bloom_sketch_model_and_membership(spark):
    """Bloom sketch: words match an independent Python bit model
    bit-for-bit; every member probes true (no false negatives — the
    guarantee the whole operator exists for); non-member false-positive
    rate tracks the bloom_fill estimate; NULL values set no bits;
    the per-group lane equals per-slice global builds."""
    from deeplake_spark.operators.sketches import (
        bloom_contains, bloom_fill, bloom_sketch)

    nw, kh = 8, 5
    df = spark.createDataFrame(
        [(f"v{i}", f"g{i % 2}") for i in range(50)], "x string, g string")
    built = bloom_sketch(df, "x", n_words=nw, k_hashes=kh).head()
    assert built.n_words == nw and built.k_hashes == kh and built.seed == 0
    assert len(built.bloom) == nw

    import hashlib

    def md5i(v, s):
        return int(hashlib.md5(f"{v}#{s}".encode()).hexdigest()[:15], 16)

    m = nw * 60
    model = [0] * nw
    for i in range(50):
        for j in range(kh):
            p = md5i(f"v{i}", j) % m
            model[p // 60] |= 1 << (p % 60)
    assert list(built.bloom) == model

    probe = df.select("x").crossJoin(
        F.broadcast(spark.range(1).select(F.lit(built.bloom).alias("bloom"))))
    hits = probe.select(
        bloom_contains(F.col("bloom"), F.col("x"), nw, kh).alias("h"))
    assert all(r.h for r in hits.collect())  # no false negatives

    non = spark.createDataFrame(
        [(f"n{i}",) for i in range(500)], "x string")
    fp = (non.crossJoin(F.broadcast(
        spark.range(1).select(F.lit(built.bloom).alias("bloom"))))
        .select(bloom_contains(F.col("bloom"), F.col("x"), nw, kh)
                .alias("h")).collect())
    fill = spark.range(1).select(
        bloom_fill(F.lit(built.bloom), nw, kh).alias("f")).head().f
    assert sum(r.h for r in fp) / 500.0 < max(5 * fill, 0.05)

    with_null = df.unionByName(
        spark.createDataFrame([(None, "g0")], "x string, g string"))
    assert list(bloom_sketch(with_null, "x", n_words=nw,
                             k_hashes=kh).head().bloom) == model

    per_group = {r.g: list(r.bloom) for r in bloom_sketch(
        df, "x", by=["g"], n_words=nw, k_hashes=kh).collect()}
    for g in ("g0", "g1"):
        split = bloom_sketch(df.filter(F.col("g") == g), "x",
                             n_words=nw, k_hashes=kh).head().bloom
        assert per_group[g] == list(split)


def test_bloom_incremental_equals_full_build(spark, tmp_path):
    """append_bloom_delta: sketch half, append the other half — the
    maintained side table equals a fresh full-corpus build bit-for-bit
    (bit-OR mergeability), per group and globally; mismatched build
    geometry raises instead of silently losing the no-false-negative
    guarantee."""
    from deeplake_spark.operators.sketches import (
        append_bloom_delta, bloom_merge, bloom_sketch, load_sketch,
        save_sketch)

    rows = [(f"g{i % 3}", f"v{i}") for i in range(900)]
    full = spark.createDataFrame(rows, "g string, x string")
    first = full.filter(F.substring("x", 2, 10).cast("long") < 450)
    second = full.filter(F.substring("x", 2, 10).cast("long") >= 450)

    # merge == sketch-of-union, bit-for-bit
    a = bloom_sketch(first, "x", n_words=16).select(
        F.col("bloom").alias("a"))
    b = bloom_sketch(second, "x", n_words=16).select(
        F.col("bloom").alias("b"))
    merged = a.crossJoin(b).select(
        bloom_merge(F.col("a"), F.col("b")).alias("bloom")).head().bloom
    direct = bloom_sketch(full, "x", n_words=16).head().bloom
    assert list(merged) == list(direct)

    # per-group incremental maintenance == fresh full build
    path = str(tmp_path / "bloom")
    save_sketch(bloom_sketch(first, "x", by=["g"], n_words=16), path)
    append_bloom_delta(second, "x", path, by=["g"], n_words=16)
    got = {r.g: list(r.bloom) for r in load_sketch(spark, path).collect()}
    want = {r.g: list(r.bloom) for r in bloom_sketch(
        full, "x", by=["g"], n_words=16).collect()}
    assert got == want

    # global lane too (cross-join merge path)
    gpath = str(tmp_path / "bloom_g")
    save_sketch(bloom_sketch(first, "x", n_words=16), gpath)
    append_bloom_delta(second, "x", gpath, n_words=16)
    assert list(load_sketch(spark, gpath).head().bloom) == list(direct)

    with pytest.raises(ValueError, match="built with"):
        append_bloom_delta(second, "x", path, by=["g"], n_words=32)


def test_cm_sketch_model_merge_and_bounds(spark, tmp_path):
    """Count-Min: cells match an independent Python model exactly;
    point estimates NEVER underestimate; disjoint-split merge and
    per-group delta append equal a fresh full build CELL-FOR-CELL
    (counts are additive — an exact law, not distributional);
    geometry guard raises; NULL occurrences count nothing."""
    import hashlib
    from collections import Counter

    from deeplake_spark.operators.sketches import (
        append_cm_delta, cm_estimate, cm_merge, cm_sketch, load_sketch,
        save_sketch)

    vals = []
    for i in range(60):
        vals += [f"t{i}"] * (200 // (i + 1))    # zipf-ish
    rows = [(v, i) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "x string, i long")
    d_, w_ = 4, 256
    sk = cm_sketch(df, "x", d=d_, w=w_).head()
    assert sk.d == d_ and sk.w == w_ and len(sk.cm) == d_ * w_

    def md5i(v, s):
        return int(hashlib.md5(f"{v}#{s}".encode()).hexdigest()[:15], 16)

    cells = [0] * (d_ * w_)
    for v in vals:
        for j in range(d_):
            cells[j * w_ + md5i(v, j) % w_] += 1
    assert list(sk.cm) == cells

    true = Counter(vals)
    probe = spark.createDataFrame([(t,) for t in true], "x string")
    ests = {r.x: r.e for r in probe.crossJoin(F.broadcast(
        spark.createDataFrame([(cells,)], "cm array<bigint>"))).select(
        "x", cm_estimate(F.col("cm"), F.col("x"), d_, w_).alias("e"))
        .collect()}
    assert all(ests[t] >= c for t, c in true.items())  # never under

    # deterministic split: merge == full build cell-for-cell
    h1, h2 = df.filter("i % 2 = 0"), df.filter("i % 2 = 1")
    s1 = cm_sketch(h1, "x", d=d_, w=w_).select(F.col("cm").alias("a"))
    s2 = cm_sketch(h2, "x", d=d_, w=w_).select(F.col("cm").alias("b"))
    merged = s1.crossJoin(s2).select(
        cm_merge(F.col("a"), F.col("b")).alias("cm")).head().cm
    assert list(merged) == cells

    gdf = df.withColumn("g", F.concat(F.lit("g"), (F.col("i") % 2)
                                      .cast("string")))
    path = str(tmp_path / "cm")
    save_sketch(cm_sketch(gdf.filter("i < 600"), "x", by=["g"],
                      d=d_, w=w_), path)
    append_cm_delta(gdf.filter("i >= 600"), "x", path, by=["g"],
                    d=d_, w=w_)
    got = {r.g: list(r.cm) for r in load_sketch(spark, path).collect()}
    want = {r.g: list(r.cm) for r in cm_sketch(
        gdf, "x", by=["g"], d=d_, w=w_).collect()}
    assert got == want
    with pytest.raises(ValueError, match="built with"):
        append_cm_delta(gdf, "x", path, by=["g"], d=8, w=w_)

    with_null = df.unionByName(
        spark.createDataFrame([(None, 9999)], "x string, i long"))
    assert list(cm_sketch(with_null, "x", d=d_, w=w_).head().cm) == cells


def test_sample_sketch_model_merge_and_quantiles(spark, tmp_path):
    """Bottom-k sample sketch: pairs match an independent Python model
    exactly; quantile estimates land within the ~1/sqrt(k) band on a
    skewed (quadratic) distribution; disjoint-shard merge == full
    build; per-group delta append == full rebuild; k guard raises."""
    import hashlib

    from deeplake_spark.operators.sketches import (
        append_sample_delta, load_sketch, sample_merge, sample_quantile,
        sample_sketch, save_sketch)

    rows = [(i, float(i * i), f"g{i % 2}") for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, v double, g string")
    sk = sample_sketch(df, "v", "id", k=128)
    got = [(s["__u"], s["__v"]) for s in sk.head().sample]

    def u(i):
        return int(hashlib.md5(f"{i}|q#0".encode()).hexdigest()[:15],
                   16) / float(1 << 60)

    model = sorted((u(i), float(i * i)) for i in range(2000))[:128]
    assert all(abs(a[0] - b[0]) < 1e-12 and a[1] == b[1]
               for a, b in zip(model, got))

    ests = sk.select(
        sample_quantile(F.col("sample"), 0.5).alias("q50"),
        sample_quantile(F.col("sample"), 0.9).alias("q90")).head()
    exact = sorted(v for _, v, _ in rows)
    # value-space slack: rank error ~1/sqrt(128) doubles in value space
    # on the quadratic distribution
    assert abs(ests.q50 - exact[1000]) / exact[1000] < 0.25
    assert abs(ests.q90 - exact[1800]) / exact[1800] < 0.25

    h1, h2 = df.filter("id < 1000"), df.filter("id >= 1000")
    s1 = sample_sketch(h1, "v", "id", k=128).select(
        F.col("sample").alias("a"))
    s2 = sample_sketch(h2, "v", "id", k=128).select(
        F.col("sample").alias("b"))
    merged = s1.crossJoin(s2).select(
        sample_merge(F.col("a"), F.col("b"), 128)
        .alias("s")).head().s
    assert [(x["__u"], x["__v"]) for x in merged] == got

    path = str(tmp_path / "sample")
    save_sketch(sample_sketch(h1, "v", "id", by=["g"], k=64), path)
    append_sample_delta(h2, "v", "id", path, by=["g"], k=64)
    got2 = {r.g: [(s["__u"], s["__v"]) for s in r.sample]
            for r in load_sketch(spark, path).collect()}
    want2 = {r.g: [(s["__u"], s["__v"]) for s in r.sample]
             for r in sample_sketch(df, "v", "id", by=["g"],
                                    k=64).collect()}
    assert got2 == want2
    with pytest.raises(ValueError, match="built with"):
        append_sample_delta(h2, "v", "id", path, by=["g"], k=128)
    # a salt mismatch is just as biased as a k mismatch: two samples
    # drawn under different salts are not coordinated and must not merge
    with pytest.raises(ValueError, match="built with"):
        append_sample_delta(h2, "v", "id", path, by=["g"], k=64,
                            salt="other")

    # NULL values/ids excluded, sketch never shrinks below real rows
    with_null = df.unionByName(
        spark.createDataFrame([(None, 1.0, "g0"), (5000, None, "g0")],
                              "id long, v double, g string"))
    assert [(s["__u"], s["__v"])
            for s in sample_sketch(with_null, "v", "id", k=128)
            .head().sample] == got

    # an all-NULL value column yields an EMPTY global sample; the
    # quantile estimates NULL instead of throwing under ANSI
    all_null = spark.createDataFrame(
        [(1, None, "g0"), (2, None, "g0")], "id long, v double, g string")
    empty_sk = sample_sketch(all_null, "v", "id", k=8)
    row = empty_sk.select(
        F.size("sample").alias("n"),
        sample_quantile(F.col("sample"), 0.5).alias("q")).head()
    assert row.n == 0 and row.q is None


def test_normalize_unicode_matches_stdlib(spark):
    """normalize_unicode: NFC composes decomposed sequences, accent
    stripping collapses to ASCII, casefold is FULL folding (ss for ß —
    not lower()), NULLs pass through; every output equals stdlib
    unicodedata applied driver-side."""
    import unicodedata

    from deeplake_spark.functions.text import normalize_unicode

    vals = ["caf\u00e9", "cafe\u0301", "cafe", "STRA\u00dfE",
            "na\u00efve", None, ""]
    df = spark.createDataFrame([(v,) for v in vals], "t string")
    got = df.select(
        "t",
        normalize_unicode(F.col("t")).alias("nfc"),
        normalize_unicode(F.col("t"), strip_accents=True).alias("sa"),
        normalize_unicode(F.col("t"), casefold=True).alias("cf")).collect()

    def strip(x):
        y = "".join(c for c in unicodedata.normalize("NFD", x)
                    if not unicodedata.combining(c))
        return unicodedata.normalize("NFC", y)

    by_val = {}
    for v, r in zip(vals, got):
        if v is None:
            assert r.nfc is None and r.sa is None and r.cf is None
            continue
        assert r.nfc == unicodedata.normalize("NFC", v)
        assert r.sa == strip(unicodedata.normalize("NFC", v))
        assert r.cf == unicodedata.normalize("NFC", v).casefold()
        by_val[v] = r
    # composed and decomposed spellings unify under NFC; both strip to
    # the plain ASCII form; full casefolding is not lower()
    assert by_val["caf\u00e9"].nfc == by_val["cafe\u0301"].nfc
    assert by_val["caf\u00e9"].sa == "cafe" == by_val["cafe\u0301"].sa
    assert by_val["STRA\u00dfE"].cf == "strasse"


def test_winnow_pairs_max_docs_cap(spark):
    """winnow_fingerprint_pairs: a boilerplate n-gram shared by EVERY
    doc (header/footer) pairs the whole corpus quadratically without
    the cap; with max_docs it contributes nothing, while true copy
    pairs (sharing rarer fingerprints) survive."""
    import random

    from deeplake_spark.operators.dedup import winnow_fingerprint_pairs

    rng = random.Random(3)
    vocab = [f"w{i}" for i in range(500)]
    # long enough that many hash windows sit ENTIRELY inside it — the
    # MOSS guarantee then forces shared fingerprints on every doc pair
    boiler = ("site header navigation menu about contact careers press "
              "privacy cookie policy terms of service all rights "
              "reserved copyright footer links sitemap")
    passage = " ".join(rng.choice(vocab) for _ in range(40))
    docs = []
    for i in range(30):
        body = " ".join(rng.choice(vocab) for _ in range(30))
        if i in (3, 4):
            body = f"{body} {passage}"          # a true copy pair
        docs.append((i, f"{boiler} {body}"))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    uncapped = {(r.a, r.b) for r in winnow_fingerprint_pairs(
        df, min_shared=2, max_docs=None).collect()}
    capped = {(r.a, r.b) for r in winnow_fingerprint_pairs(
        df, min_shared=2, max_docs=10).collect()}
    assert (3, 4) in capped                      # the true copy survives
    assert len(capped) < len(uncapped)           # boilerplate pairs gone
    # with the cap, no pair should exist on boilerplate alone: every
    # non-copy pair must disappear
    assert capped == {(3, 4)}, capped


def test_winnow_fingerprints_model_and_guarantee(spark):
    """Winnowing: Spark fingerprint sets equal an independent Python
    model exactly, and the MOSS guarantee holds — ANY two docs sharing
    a token run of length >= w + k - 1 share at least one fingerprint,
    while short docs fingerprint to their global minimum."""
    import hashlib
    import random

    from deeplake_spark.functions.text import kgram_hashes, tokenize, winnow

    k, w = 4, 4

    def md5i(s):
        return int(hashlib.md5(f"{s}#0".encode()).hexdigest()[:15], 16)

    def model(text):
        t = text.lower().split()
        hs = [md5i(" ".join(t[i:i + k])) for i in range(len(t) - k + 1)]
        if not hs:
            return set()
        if len(hs) < w:
            return {min(hs)}
        return {min(hs[j:j + w]) for j in range(len(hs) - w + 1)}

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(300)]
    shared = " ".join(rng.choice(vocab) for _ in range(w + k - 1))
    docs = []
    for i in range(30):
        pre = " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 25)))
        post = " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 25)))
        body = f"{pre} {shared} {post}" if i < 10 else \
            " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 40)))
        docs.append((i, body.strip()))
    docs.append((98, "one two three"))        # below k tokens -> empty
    docs.append((99, "a b c d e f"))          # k <= n < k+w-1 -> global min

    df = spark.createDataFrame(docs, "doc_id long, text string")
    toks = df.select("doc_id", tokenize(F.col("text")).alias("__t"))
    hashed = toks.select("doc_id", kgram_hashes(F.col("__t"), k).alias("__h"))
    got = {r.doc_id: set(r.fps) for r in hashed.select(
        "doc_id", winnow(F.col("__h"), w).alias("fps")).collect()}
    for did, text in docs:
        assert got[did] == model(text), f"doc {did} mismatch"
    # the guarantee: every pair of shared-run docs intersects
    for i in range(10):
        for j in range(i + 1, 10):
            assert got[i] & got[j], (i, j)


def test_excise_dup_windows_hand_case(spark):
    """Keep-first substring excision on a hand-computed corpus: a
    cross-doc shared 8-token span survives only in the globally-first
    document, an exact-copy document cleans to '', a within-doc
    repetition loses its second half, sub-window docs pass through,
    and min_count=3 leaves a twice-occurring span alone."""
    from deeplake_spark.operators.dedup import excise_dup_windows

    rows = [
        (1, "a b c d e f g h x y"),
        (2, "p q a b c d e f g h r"),
        (3, "a b c d e f g h x y"),
        (4, "k l m"),
        (5, "m1 m2 m3 m4 m5 m6 m7 m8 z m1 m2 m3 m4 m5 m6 m7 m8"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.clean_text, r.n_tokens, r.n_removed)
           for r in excise_dup_windows(df, w=8).collect()}
    assert got[1] == ("a b c d e f g h x y", 10, 0)   # canonical: intact
    assert got[2] == ("p q r", 11, 8)                 # shared span excised
    assert got[3] == ("", 10, 10)                     # exact copy: emptied
    assert got[4] == ("k l m", 3, 0)                  # < w tokens: no-op
    assert got[5] == ("m1 m2 m3 m4 m5 m6 m7 m8 z", 17, 8)  # within-doc
    # min_count=3: only the THRICE-occurring window (docs 1, 2, 3 share
    # "a b c d e f g h") still qualifies — its two non-canonical
    # occurrences lose 8 tokens; the twice-occurring spans (the copy's
    # tail windows, doc 5's repetition) survive
    loose = {r.doc_id: r.n_removed
             for r in excise_dup_windows(df, w=8, min_count=3).collect()}
    assert loose == {1: 0, 2: 8, 3: 8, 4: 0, 5: 0}


def test_minhash_cross_pairs_fuzzy_recall(spark, sf_dir):
    """Production-threshold lane of t36's operator: eval docs that are
    NEAR-copies (one token in ~15 edited) of corpus docs must pair at
    threshold 0.5 with high Jaccard, an unrelated probe must not, and
    a<->b sides stay cross-corpus (no corpus-internal pairs)."""
    from deeplake_spark.operators.dedup import minhash_cross_pairs

    corpus = (load_table(spark, sf_dir, "documents")
              .select("doc_id", "text").filter(F.col("doc_id") < 60))
    # near-copy: replace the 4th whitespace token with an OOV marker
    edited = F.expr(
        "concat_ws(' ', transform(filter(split(lower(text), '\\\\s+'), "
        "t -> t <> ''), (t, i) -> IF(i = 3, 'zzedit', t)))")
    evals = corpus.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 7_000_000).alias("doc_id"),
        edited.alias("text")
    ).unionByName(spark.createDataFrame(
        [(8_000_000, "zz1 zz2 zz3 zz4 zz5 zz6 zz7 zz8")],
        "doc_id long, text string"))
    got = {(r.a, r.b): r.jaccard for r in minhash_cross_pairs(
        corpus, evals, threshold=0.5).collect()}
    # every edited eval doc pairs back to its source (recall gate)
    found = {b - 7_000_000 for (a, b) in got if a == b - 7_000_000}
    assert len(found) >= 8, found  # LSH at j~0.7: allow rare band misses
    assert all(j >= 0.5 for j in got.values())
    assert not any(b == 8_000_000 for _, b in got), "unrelated probe paired"
    assert all(a < 1_000_000 and b >= 7_000_000 for a, b in got), \
        "pairs must be cross-corpus"


def test_cap_per_group_semantics(spark, sf_dir):
    """cap_per_group == the k-smallest (md5-uniform, id) per group (the
    single-window model), caps bite at exactly min(k, group size), the
    selection is append-stable while a group is under the cap, and a
    sub-cap group passes through whole."""
    from deeplake_spark.operators.sampling import cap_per_group, md5_uniform

    d = load_table(spark, sf_dir, "documents").select("source", "doc_id")
    got = {(r.source, r.doc_id)
           for r in cap_per_group(d, "source", 15, salt="cap").collect()}
    # independent model: rank by (u, id) per group in pandas
    pdf = d.withColumn("__u", md5_uniform("doc_id", "cap")).toPandas()
    want = set()
    for src, g in pdf.groupby("source"):
        for _, row in g.sort_values(["__u", "doc_id"]).head(15).iterrows():
            want.add((src, int(row.doc_id)))
    assert got == want
    sizes = pdf.groupby("source").size()
    per_group = {}
    for s, _ in got:
        per_group[s] = per_group.get(s, 0) + 1
    assert per_group == {s: min(15, int(n)) for s, n in sizes.items()}
    # append stability: adding rows to OTHER groups never changes a
    # group's picks; adding to a capped group re-competes (documented)
    extra = spark.createDataFrame(
        [("srcNEW", 9_000_000 + i) for i in range(3)],
        "source string, doc_id long")
    got2 = {(r.source, r.doc_id) for r in cap_per_group(
        d.unionByName(extra), "source", 15, salt="cap").collect()}
    assert {p for p in got2 if p[0] != "srcNEW"} == want
    assert sum(1 for p in got2 if p[0] == "srcNEW") == 3  # sub-cap: whole
    with pytest.raises(ValueError, match="k must be"):
        cap_per_group(d, "source", 0)


def test_mrl_funnel_recall_and_exhaustive_equality(spark, sf_dir):
    """MRL funnel properties: with refine covering the whole corpus the
    funnel EQUALS exact full-dim top-k (the rerank sees everything);
    at the default refine=4 the funnel's top-k overlaps exact top-k
    highly (the 8-dim prefix of these embeddings is informative), and
    the plan stays TakeOrdered (no global sort)."""
    from deeplake_spark.operators.similarity import (
        mrl_prefilter_topk, topk_cosine)

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    n = e.count()
    exact = [r.vec_id for r in topk_cosine(e, "embedding", list(q),
                                           k=10).collect()]
    full_refine = [r.vec_id for r in mrl_prefilter_topk(
        e, "embedding", list(q), k=10, dims=8,
        refine=(n // 10) + 1).collect()]
    assert full_refine == exact
    # recall floor note: the testdata embeddings are RANDOM, so an
    # 8-of-32 prefix carries only dims/D of the signal (measured 6/10
    # at refine=4) — real MRL checkpoints TRAIN the prefix to rank like
    # the full vector, which is the regime the funnel exists for. The
    # hard guarantee is the exhaustive-refine equality above; this
    # floor just pins that the funnel is better than chance (k*refine/n
    # ~ 0.08 expected overlap for a random cut).
    funnel = mrl_prefilter_topk(e, "embedding", list(q), k=10, dims=8,
                                refine=4)
    got = [r.vec_id for r in funnel.collect()]
    assert len(set(got) & set(exact)) >= 4, (got, exact)
    plan = funnel._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_sketch_overwrite_crash_safety(spark, tmp_path):
    """A sketch save follows the side-table snapshot protocol: a reader
    serves the newest manifest's files only. (a) Files a crashed write
    moved into the table directory, and its staged leftovers, are
    never served; (b) the next successful save GCs them; (c) a plan
    loaded before a save keeps executing across it (the previous
    manifest's files survive one more write) but not across two."""
    import os

    from deeplake_spark import memo
    from deeplake_spark.operators.sketches import (
        append_kmv_delta, kmv_estimate, kmv_sketch, load_sketch, save_sketch)

    def est(df):
        return df.select(
            kmv_estimate(F.col("sketch"), F.col("k")).alias("e")).head().e

    def table_files():
        return sorted(os.listdir(os.path.join(path, "sketch")))

    df = spark.createDataFrame([(f"v{i}",) for i in range(50)], "x string")
    path = str(tmp_path / "kmv")
    save_sketch(kmv_sketch(df, "x", k=128), path)
    assert est(load_sketch(spark, path)) == 50.0
    d2 = spark.createDataFrame([(f"w{i}",) for i in range(25)], "x string")
    append_kmv_delta(d2, "x", path, k=128)
    assert est(load_sketch(spark, path)) == 75.0
    served = memo.manifest(path)[1]["tables"]["sketch"]["files"]

    # (a) a crashed save: its files reached the table directory and
    # the staging directory, but no manifest listed them
    crash = str(tmp_path / "crash")
    kmv_sketch(df.limit(10), "x", k=128).write.parquet(crash)
    for name in os.listdir(crash):
        if name.endswith(".parquet"):
            os.replace(os.path.join(crash, name),
                       os.path.join(path, "sketch", "part-crash-" + name))
    os.makedirs(os.path.join(path, "_staging", "dead", "sketch"))
    assert est(load_sketch(spark, path)) == 75.0  # NOT the crashed write

    # (b) + (c): the next save GCs the strays, keeps the files the
    # stale plan reads, and the stale plan still executes
    stale = load_sketch(spark, path)
    d3 = spark.createDataFrame([(f"z{i}",) for i in range(10)], "x string")
    append_kmv_delta(d3, "x", path, k=128)
    assert est(load_sketch(spark, path)) == 85.0
    assert not [f for f in table_files() if "crash" in f]
    assert not os.path.exists(os.path.join(path, "_staging"))
    assert set(served) <= set(table_files())
    assert est(stale) == 75.0
    assert sorted(os.listdir(os.path.join(path, "_log"))) == [
        "00000002.json", "00000003.json"]

    # two saves later the stale plan's files are collected
    d4 = spark.createDataFrame([(f"y{i}",) for i in range(5)], "x string")
    append_kmv_delta(d4, "x", path, k=128)
    assert not set(served) & set(table_files())
    assert est(load_sketch(spark, path)) == 90.0


def test_dedup_release_cached_returns_blocks_to_baseline(spark):
    """The dedup operators' persisted intermediates (posting tables,
    shingle sets) are tracked and releasable (round-12 VERDICT
    wrong#1): after materializing results, release_cached() /
    cached_scope() return the session's persistent-block count to its
    baseline — long interactive sessions no longer depend on bench.py's
    gc-scrub for the trap-15 residue."""
    from deeplake_spark.operators.dedup import (
        cached_scope, jaccard_pairs, minhash_dedup_pairs, release_cached)

    release_cached()  # drop residue from earlier tests in this session

    def blocks():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    base = blocks()
    df = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i} epsilon zeta eta theta")
         for i in range(60)], "doc_id long, text string")
    pairs = jaccard_pairs(df, threshold=0.1)
    dups = minhash_dedup_pairs(df, threshold=0.1)
    pairs.count(), dups.count()  # materialize: fills the tracked caches
    assert blocks() > base
    assert release_cached() >= 2
    assert blocks() == base
    # released plans recompute, never fail
    assert pairs.count() == jaccard_pairs(df, threshold=0.1).count()
    release_cached()

    with cached_scope():
        jaccard_pairs(df, threshold=0.1).count()
        assert blocks() > base
    assert blocks() == base


def test_cached_scope_survives_cap_eviction(spark):
    """ADVICE r13: cached_scope tracks membership by IDENTITY, so a
    FIFO-cap eviction inside the scope (which shifts list positions)
    neither leaks in-scope persists nor unpersists pre-scope ones."""
    from deeplake_spark.operators import dedup as dd

    dd.release_cached()
    old_cap = dd._TRACKED_CAP
    try:
        pre = dd._track(spark.range(10))
        pre.count()
        dd._TRACKED_CAP = 2  # force evictions inside the scope
        with dd.cached_scope():
            frames = [dd._track(spark.range(20 + i)) for i in range(4)]
            for f in frames:
                f.count()
            # cap evicted the oldest in-scope entries already; the
            # pre-scope entry itself was evicted too (FIFO) — that is
            # the cap's contract, not the scope's
        # scope exit released every REMAINING in-scope persist
        assert all(f.storageLevel.useMemory is False for f in frames)
        assert dd._TRACKED == [] or all(
            df is pre for df in dd._TRACKED)
    finally:
        dd._TRACKED_CAP = old_cap
        dd.release_cached()


def test_track_survives_cap_eviction_of_an_equal_plan(spark):
    """Spark shares one cache entry between equal plans. A persist whose
    older twin the FIFO cap evicts must still read from memory (the
    t42 lane lost its persist this way when the tracker was full)."""
    from deeplake_spark.operators import dedup as dd

    dd.release_cached()
    old_cap = dd._TRACKED_CAP
    try:
        dd._TRACKED_CAP = 2
        dd._track(spark.range(7).selectExpr("id * 3 AS v"))
        dd._track(spark.range(8))
        again = dd._track(spark.range(7).selectExpr("id * 3 AS v"))
        plan = again._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan, plan
    finally:
        dd._TRACKED_CAP = old_cap
        dd.release_cached()


def test_hard_negative_mining_lanes_agree(spark, sf_dir, round_trip):
    """The IVF lane of hard_negative_mining at FULL probe must return
    the exact lane's negatives (same ids, ranks, scores)."""
    from pyspark.sql import functions as F2

    from deeplake_spark.operators.similarity import (
        SearchConfig, build_ivf, hard_negative_mining)

    e = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
         .select("vec_id", "embedding", "label"))
    q = e.filter(F2.col("vec_id") < 6).select(
        F2.col("vec_id").alias("qid"), F2.col("embedding").alias("qv"),
        F2.col("label").alias("qlabel"))
    exact = {(r.qid, r.rank): (r.vec_id, r.score)
             for r in hard_negative_mining(e, q, k=4).collect()}
    idx = round_trip(build_ivf(e, n_clusters=4, seed=7))
    full = SearchConfig(accuracy_factor=20, nprobe=4)  # probes all
    routed = {(r.qid, r.rank): (r.vec_id, r.score)
              for r in hard_negative_mining(e, q, k=4, index=idx,
                                            config=full).collect()}
    assert routed == exact and exact


def test_class_balance_target_and_null_labels(spark):
    """class_balance: explicit target caps every class; default equals
    the minority count; NULL labels are dropped; selection is
    deterministic (same result twice)."""
    from deeplake_spark.operators.sampling import class_balance

    rows = ([(i, "a") for i in range(20)] + [(100 + i, "b") for i in range(7)]
            + [(200, None)])
    df = spark.createDataFrame(rows, "doc_id long, label string")
    bal = class_balance(df, "label")
    counts = {r.label: r.n for r in
              bal.groupBy("label").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {"a": 7, "b": 7}
    t3 = class_balance(df, "label", target=3)
    assert {r.label: r.n for r in
            t3.groupBy("label").agg(F.count(F.lit(1)).alias("n")).collect()} \
        == {"a": 3, "b": 3}
    ids1 = sorted(r.doc_id for r in bal.collect())
    ids2 = sorted(r.doc_id for r in class_balance(df, "label").collect())
    assert ids1 == ids2 and 200 not in ids1


def test_split_chat_turns_edges(spark):
    """split_chat_turns: header-only text yields zero rows; custom
    markers work; roles and ordering are exact."""
    from deeplake_spark.operators.restructure import split_chat_turns

    df = spark.createDataFrame(
        [(1, "no markers here at all"),
         (2, "hdr User: hi Assistant: hello! User: bye"),
         (3, "Q: one A: two Q: three")],
        "doc_id long, text string")
    out = split_chat_turns(df).orderBy("doc_id", "turn_idx").collect()
    assert [(r.doc_id, r.turn_idx, r.role, r.content) for r in out] == [
        (2, 0, "user", "hi"), (2, 1, "assistant", "hello!"),
        (2, 2, "user", "bye")]
    qa = split_chat_turns(df, markers=("Q:", "A:")) \
        .orderBy("doc_id", "turn_idx").collect()
    assert [(r.doc_id, r.role, r.content) for r in qa
        if r.doc_id == 3] == [
        (3, "q", "one"), (3, "a", "two"), (3, "q", "three")]
    # markers with regex metacharacters split LITERALLY (ADVICE r13):
    # "[INST]" must not parse as a character class, "Q." not as Q-any
    inst = spark.createDataFrame(
        [(4, "sys [INST] do a thing [/INST] sure thing"),
         (5, "Qx should not match Q. but Q. does")],
        "doc_id long, text string")
    got = split_chat_turns(inst, markers=("[INST]", "[/INST]")) \
        .orderBy("doc_id", "turn_idx").collect()
    assert [(r.doc_id, r.turn_idx, r.role, r.content) for r in got] == [
        (4, 0, "[inst]", "do a thing"), (4, 1, "[/inst]", "sure thing")]
    dot = split_chat_turns(inst, markers=("Q.",)) \
        .orderBy("doc_id", "turn_idx").collect()
    assert [(r.doc_id, r.content) for r in dot] == [
        (5, "but"), (5, "does")]  # literal "Q." matches only, not "Qx"


def test_dedup_corpus_lines_semantics(spark):
    """dedup_corpus_lines: cross-doc keep-first by (doc, pos), blank
    lines pass through, intra-doc repeats drop too, empty docs
    survive as empty strings."""
    from deeplake_spark.operators.dedup import dedup_corpus_lines

    df = spark.createDataFrame(
        [(1, "alpha\nFOOTER\n\nbeta\nFOOTER"),
         (2, "FOOTER\ngamma\n \nalpha"),
         (3, ""),
         (4, None)],
        "doc_id long, text string")
    out = {r.doc_id: r for r in dedup_corpus_lines(df).collect()}
    assert out[1].text == "alpha\nFOOTER\n\nbeta"      # intra-doc repeat dropped
    assert (out[1].n_lines, out[1].n_dropped) == (5, 1)
    assert out[2].text == "gamma\n "                   # FOOTER+alpha seen in doc 1
    assert (out[2].n_lines, out[2].n_dropped) == (4, 2)
    assert out[3].text == "" and out[3].n_dropped == 0
    # NULL text must not erase the document (r14 review finding)
    assert out[4].text == "" and out[4].n_dropped == 0


def test_mmr_select_diversifies_planted_near_dups(spark):
    """mmr_select: with two near-identical top candidates, plain top-2
    takes both copies; MMR's second pick skips the near-dup for the
    diverse runner-up. lam=1 degenerates to plain top-k (rel order)."""
    import numpy as np

    from deeplake_spark.operators.similarity import mmr_select

    q = [1.0, 0.0, 0.0, 0.0]
    rows = [
        (0, [0.99, 0.10, 0.0, 0.0]),   # best match
        (1, [0.99, 0.101, 0.0, 0.0]),  # its near-copy
        (2, [0.80, 0.0, 0.58, 0.0]),   # diverse runner-up
        (3, [0.10, 0.0, 0.0, 0.99]),   # off-topic
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>")
    out = mmr_select(df, "embedding", q, k=3, lam=0.5, pool=4).collect()
    picked = [r.vec_id for r in out]
    assert picked[0] == 0          # pure relevance first
    assert picked[1] == 2          # near-dup 1 penalized below 2
    assert [r.mmr_rank for r in out] == [1, 2, 3]
    assert all(out[i].rel >= -1.0 for i in range(3))
    top = mmr_select(df, "embedding", q, k=3, lam=1.0, pool=4).collect()
    assert [r.vec_id for r in top][:2] == [0, 1]  # degenerate = top-k
    # rel column equals the rounded cosine (numpy cross-check)
    def cos(a, b):
        a, b = np.array(a), np.array(b)
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
    assert abs(out[0].rel - round(cos(rows[0][1], q), 6)) < 2e-6


def test_mmr_select_index_routed_pool(spark, sf_dir, round_trip):
    """r14 verdict #6: mmr_select(index=) rides ivf_search for the
    top-pool cut (nprobe-pruned cluster scan instead of a corpus
    TakeOrdered — the v26/v30 funnel). At FULL probe the index pool
    equals the exact pool, so the whole selection — ranks, ids, rel,
    mmr_score — is IDENTICAL to the exact lane; partial probe stays
    recall-governed (subset sanity only). A Column query vector on
    the index lane raises (centroid routing is driver-side)."""
    import pytest as pt
    from pyspark.sql import functions as F

    from deeplake_spark.io import load_table
    from deeplake_spark.operators.similarity import (
        SearchConfig, build_ivf, mmr_select)

    e = load_table(spark, sf_dir, "embeddings")
    qv = [float(v) for v in
          e.filter(F.col("vec_id") == 0).head()["embedding"]]
    idx = round_trip(build_ivf(e, n_clusters=8))
    exact = mmr_select(e, "embedding", qv, k=6, pool=20).collect()
    full = SearchConfig(nprobe=8, accuracy_factor=100)
    routed = mmr_select(e, "embedding", qv, k=6, pool=20,
                        index=idx, config=full).collect()
    assert [tuple(r) for r in routed] == [tuple(r) for r in exact]

    # partial probe: approximate pool, exact greedy — k rows, valid ids
    part = mmr_select(e, "embedding", qv, k=6, pool=20, index=idx,
                      config=SearchConfig(nprobe=2)).collect()
    assert len(part) == 6 and [r.mmr_rank for r in part] == list(range(1, 7))

    with pt.raises(ValueError, match="concrete query vector"):
        mmr_select(e, "embedding", F.col("embedding"), k=2, index=idx)


def test_chat_template_presets_round_trip(spark):
    """r14 verdict #7: split_chat_turns(template=) handles the real
    SFT formats where the role is marker SYNTAX — ChatML
    (<|im_start|>role\\n...<|im_end|>) and Llama-2 ([INST]/[/INST]/
    <<SYS>>, BOS/EOS stripped) — and render_chat(template=) is the
    exact inverse: split(render(split(text))) == split(text) per
    preset, roles included. Unknown template names raise."""
    import pytest as pt

    from deeplake_spark.operators.restructure import (
        render_chat, split_chat_turns)

    chatml = ("<|im_start|>system\nbe terse<|im_end|>\n"
              "<|im_start|>user\nhello\nthere<|im_end|>\n"
              "<|im_start|>assistant\nhi!<|im_end|>")
    llama = ("<s>[INST] <<SYS>>\nyou are terse\n<</SYS>>\n\n"
             "what is 2+2? [/INST] 4 </s>"
             "<s>[INST] and 3+3? [/INST] 6 </s>")
    df = spark.createDataFrame([(0, chatml), (1, llama)],
                               "doc_id long, text string")

    def rows(out):
        return [(r.doc_id, r.turn_idx, r.role, r.content)
                for r in out.orderBy("doc_id", "turn_idx").collect()]

    cm = split_chat_turns(df.filter("doc_id = 0"), template="chatml")
    assert rows(cm) == [
        (0, 0, "system", "be terse"),
        (0, 1, "user", "hello\nthere"),   # embedded newline survives
        (0, 2, "assistant", "hi!")]
    ll = split_chat_turns(df.filter("doc_id = 1"), template="llama")
    assert rows(ll) == [
        (1, 0, "system", "you are terse"),
        (1, 1, "user", "what is 2+2?"), (1, 2, "assistant", "4"),
        (1, 3, "user", "and 3+3?"), (1, 4, "assistant", "6")]

    # render(template) -> split(template) reproduces the turn rows
    for template, turns in (("chatml", cm), ("llama", ll)):
        rendered = render_chat(turns, template=template).select(
            "doc_id", F.col("rendered").alias("text"))
        again = split_chat_turns(rendered, template=template)
        assert rows(again) == rows(turns), template

    # "colon" preset == the literal-marker default on user/assistant
    # data, and render(colon) -> split(colon) round-trips (the render
    # initcaps the stored lowercase role back into the marker form)
    colon = spark.createDataFrame(
        [(2, "User: hi Assistant: hello User: bye")],
        "doc_id long, text string")
    ct = split_chat_turns(colon, template="colon")
    assert rows(ct) == rows(split_chat_turns(colon))
    ct_again = split_chat_turns(
        render_chat(ct, template="colon").select(
            "doc_id", F.col("rendered").alias("text")),
        template="colon")
    assert rows(ct_again) == rows(ct)

    with pt.raises(ValueError, match="unknown chat template"):
        split_chat_turns(df, template="alpaca")
    with pt.raises(ValueError, match="unknown chat template"):
        render_chat(cm, template="alpaca")


def test_chat_template_arg_precedence_and_edges(spark):
    """r15 review pins: explicit markers/marker_roles OVERRIDE a
    template preset (they were silently discarded); a partial
    marker_roles falls back per-marker instead of KeyError; chatml
    rejects markers/marker_roles; a loosely-formatted ChatML turn
    with no newline after the role does not leak <|im_end|> into the
    role column; render(template='llama') raises on a role the
    marker syntax cannot represent; NULL content renders as '' and
    still counts in n_turns."""
    import pytest as pt

    from deeplake_spark.operators.restructure import (
        render_chat, split_chat_turns)

    # explicit marker_roles wins over the colon preset's defaults
    colon = spark.createDataFrame(
        [(0, "User: hi Assistant: yo")], "doc_id long, text string")
    got = split_chat_turns(
        colon, template="colon",
        marker_roles={"User:": "human", "Assistant:": "bot"}) \
        .orderBy("turn_idx").collect()
    assert [r.role for r in got] == ["human", "bot"]
    # explicit markers win over the preset's marker list
    q = spark.createDataFrame([(0, "Q: a A: b")],
                              "doc_id long, text string")
    got = split_chat_turns(q, template="colon", markers=("Q:", "A:")) \
        .orderBy("turn_idx").collect()
    assert [(r.role, r.content) for r in got] == [("q", "a"), ("a", "b")]
    # partial marker_roles: uncovered markers fall back, no KeyError
    got = split_chat_turns(q, markers=("Q:", "A:"),
                           marker_roles={"Q:": "asker"}) \
        .orderBy("turn_idx").collect()
    assert [r.role for r in got] == ["asker", "a"]
    with pt.raises(ValueError, match="structurally"):
        split_chat_turns(q, template="chatml", markers=("Q:",))

    # loose ChatML: no newline after the role -- the end marker must
    # not leak into the role column
    loose = spark.createDataFrame(
        [(0, "<|im_start|>user hello<|im_end|>")],
        "doc_id long, text string")
    r = split_chat_turns(loose, template="chatml").collect()[0]
    assert "<|im_end|>" not in r.role and r.content == ""

    # llama render: unrepresentable role raises (not silent bare text)
    bad = spark.createDataFrame([(0, 0, "tool", "x")],
                                "doc_id long, turn_idx int, "
                                "role string, content string")
    with pt.raises(Exception, match="no marker in the llama format"):
        render_chat(bad, template="llama").collect()

    # NULL content: rendered line is '' (array_join would DROP a NULL
    # line while n_turns still counted it)
    nc = spark.createDataFrame(
        [(0, 0, "user", "hi"), (0, 1, "assistant", None)],
        "doc_id long, turn_idx int, role string, content string")
    out = render_chat(nc).collect()[0]
    assert out.n_turns == 2 and out.rendered == "user: hi\nassistant: "


def test_render_chat_round_trip(spark):
    """render_chat is split_chat_turns' inverse: splitting a rendered
    string reproduces the turn rows exactly (roles lowercased in the
    render are re-used as markers), and turn order follows turn_idx
    regardless of collect order."""
    from deeplake_spark.operators.restructure import (
        render_chat, split_chat_turns)

    df = spark.createDataFrame(
        [(1, "hdr User: hi Assistant: hello there User: bye"),
         (2, "User: solo")],
        "doc_id long, text string")
    turns = split_chat_turns(df)
    rendered = render_chat(turns).orderBy("doc_id").collect()
    assert [(r.doc_id, r.n_turns) for r in rendered] == [(1, 3), (2, 1)]
    assert rendered[0].rendered == \
        "user: hi\nassistant: hello there\nuser: bye"
    back = split_chat_turns(
        render_chat(turns).select(
            "doc_id", F.col("rendered").alias("text")),
        markers=("user:", "assistant:"))
    a = sorted((r.doc_id, r.turn_idx, r.role, r.content)
               for r in turns.collect())
    b = sorted((r.doc_id, r.turn_idx, r.role, r.content)
               for r in back.collect())
    assert a == b


def test_compression_ratio_monotone_on_planted_fixtures(spark):
    """compression_ratio: repetitive text << natural prose < random
    noise; empty/NULL score NULL; deterministic across calls."""
    import random
    import string

    from deeplake_spark.functions.text import compression_ratio

    rng = random.Random(7)
    noise = "".join(rng.choice(string.ascii_letters + string.digits)
                    for _ in range(2000))
    prose = ("the quick brown fox jumps over the lazy dog while the "
             "rain in spain falls mainly on the plain and every good "
             "boy does fine with some variance in phrasing here ") * 8
    rep = "spam ham " * 250
    df = spark.createDataFrame(
        [(0, rep), (1, prose), (2, noise), (3, ""), (4, None)],
        "i long, text string")
    ratio = compression_ratio()
    got = {r.i: r.r for r in df.select("i", ratio("text").alias("r")).collect()}
    assert got[0] < got[1] < got[2] <= 1.05
    assert got[0] < 0.05 and got[2] > 0.7
    assert got[3] is None and got[4] is None
    got2 = {r.i: r.r for r in df.select("i", ratio("text").alias("r")).collect()}
    assert got == got2


def test_kmv_seed_guard(spark, tmp_path):
    """r15 review pin: append_kmv_delta refuses a mismatched seed
    (different seed = different hash function — a silent-bias merge),
    including a non-default seed against a pre-seed-column table."""
    import pytest as pt

    from deeplake_spark.operators.sketches import (
        append_kmv_delta, kmv_estimate, kmv_sketch, load_sketch, save_sketch)

    df = spark.createDataFrame([(f"v{i}",) for i in range(40)], "x string")
    path = str(tmp_path / "kmv")
    save_sketch(kmv_sketch(df, "x", k=64), path)
    d3 = spark.createDataFrame([("z1",)], "x string")
    append_kmv_delta(d3, "x", path, k=64)
    est = load_sketch(spark, path).select(
        kmv_estimate(F.col("sketch"), F.col("k")).alias("e")).head().e
    assert est == 41.0

    # seed guard: mismatched seed raises instead of silently merging
    with pt.raises(ValueError, match="seed"):
        append_kmv_delta(d3, "x", path, k=64, seed=7)
    # legacy table without the seed column: non-default seed refused
    legacy = str(tmp_path / "kmvlegacy")
    save_sketch(kmv_sketch(df, "x", k=64).drop("seed"), legacy)
    with pt.raises(ValueError, match="seed"):
        append_kmv_delta(d3, "x", legacy, k=64, seed=7)
    append_kmv_delta(d3, "x", legacy, k=64)  # seed 0 still appends


def test_sample_sketch_deterministic_under_duplicate_ids(spark):
    """r15 review: duplicate ids tie on the hash __u — the bottom-k
    cut now tiebreaks on (__u, __v), so two builds over different
    partitionings keep the IDENTICAL (u, v) pairs (the documented
    determinism + merge==fresh-build law), and a string value column
    with a non-numeric row drops through try_cast instead of killing
    the job under ANSI."""
    from deeplake_spark.operators.sketches import sample_sketch

    rows = [(f"id{i % 7}", float(i)) for i in range(40)]  # dup ids
    a = spark.createDataFrame(rows, "id string, v double").repartition(1)
    b = spark.createDataFrame(list(reversed(rows)),
                              "id string, v double").repartition(13)
    sa = sample_sketch(a, "v", "id", k=10).head().sample
    sb = sample_sketch(b, "v", "id", k=10).head().sample
    assert [tuple(s) for s in sa] == [tuple(s) for s in sb]

    # ANSI: non-numeric string value rows drop, not crash
    s = spark.createDataFrame(
        [("a", "1.5"), ("b", "N/A"), ("c", "2.5")], "id string, v string")
    out = sample_sketch(s, "v", "id", k=8).head().sample
    assert sorted(x["__v"] for x in out) == [1.5, 2.5]


def test_fold_cosine_matches_engine_cosine(spark):
    """r15 opt: mmr's pairwise sims moved from a local-relation Spark
    job to the driver-side left-fold twin — _rnd6(_fold_cosine(a, b))
    must equal the ENGINE's ROUND(cosine_similarity(a, b), 6) exactly
    (both are sequential IEEE-double folds; the numpy pairwise-sum
    shortcut this test would catch is banned)."""
    import hashlib

    from pyspark.sql import functions as F

    from deeplake_spark.functions.vector import cosine_similarity
    from deeplake_spark.operators.similarity import _fold_cosine, _rnd6

    def vec(seed, dim=64):
        out = []
        for i in range(dim):
            h = hashlib.md5(f"{seed}:{i}".encode()).hexdigest()
            out.append((int(h[:8], 16) / 2**32) * 2.0 - 1.0)
        return out

    vecs = [vec(s) for s in range(8)] + [[0.0] * 64]  # incl. a zero vector
    rows = [(i, v) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    a = df.select(F.col("id").alias("ia"), F.col("v").alias("va"))
    b = df.select(F.col("id").alias("ib"), F.col("v").alias("vb"))
    eng = {(r.ia, r.ib): r.s for r in a.join(
        F.broadcast(b), F.col("ia") < F.col("ib")).select(
        "ia", "ib",
        F.round(cosine_similarity(F.col("va"), F.col("vb")), 6).alias("s"))
        .collect()}
    for (ia, ib), s in eng.items():
        c = _fold_cosine(vecs[ia], vecs[ib])
        drv = None if c is None else _rnd6(c)
        assert drv == s, (ia, ib, drv, s)


def test_cm_sketch_weighted_equals_stream(spark):
    """r15 opt (t44's one-pass lane): a cm_sketch built from a
    (value, count) aggregate with weight_col must equal the build over
    the raw occurrence stream CELL-FOR-CELL — counts are additive."""
    from pyspark.sql import functions as F

    from deeplake_spark.operators.sketches import cm_sketch

    vals = ["a"] * 5 + ["b"] * 3 + ["c"] * 1 + ["dd"] * 7
    stream = spark.createDataFrame([(v,) for v in vals], "tok string")
    plain = cm_sketch(stream, "tok", d=3, w=32).head()
    agg = stream.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    weighted = cm_sketch(agg, "tok", d=3, w=32, weight_col="n").head()
    assert list(plain.cm) == list(weighted.cm)
    assert (plain.d, plain.w, plain.seed) == (weighted.d, weighted.w,
                                              weighted.seed)
    # grouped lane too
    stream2 = spark.createDataFrame(
        [("s1", v) for v in vals] + [("s2", v) for v in vals[:4]],
        "src string, tok string")
    p2 = {r.src: list(r.cm) for r in cm_sketch(
        stream2, "tok", by=["src"], d=2, w=16).collect()}
    agg2 = stream2.groupBy("src", "tok").agg(F.count(F.lit(1)).alias("n"))
    w2 = {r.src: list(r.cm) for r in cm_sketch(
        agg2, "tok", by=["src"], d=2, w=16, weight_col="n").collect()}
    assert p2 == w2


def test_exact_batch_cosine_scores_match_hof_lane(spark):
    """r15 opt: knn_label_propagation's exact lane scores via the
    Arrow-batched dim-sequential fold — every (labeled, query) rounded
    score must be BIT-identical to the former broadcast-NLJ HOF
    spelling, including NULL for zero-norm / NULL / ragged vectors."""
    import hashlib

    from pyspark.sql import functions as F

    from deeplake_spark.functions.vector import cosine_similarity
    from deeplake_spark.operators.similarity import (
        _exact_batch_cosine_scores)

    def vec(seed, dim=16):
        return [(int(hashlib.md5(f"{seed}:{i}".encode()).hexdigest()[:8],
                     16) / 2**32) * 2 - 1 for i in range(dim)]

    rows = [(i, i % 3, vec(i)) for i in range(20)]
    rows.append((20, 1, [0.0] * 16))        # zero norm
    rows.append((21, 2, None))              # NULL vector
    rows.append((22, 0, vec(99)[:7]))       # ragged
    labeled = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>")
    queries = spark.createDataFrame(
        [(100, vec(100)), (101, vec(101)), (102, [0.0] * 16)],
        "__qid long, __qv array<double>")
    got = {(r["__qid"], r["vec_id"]): r["__score"]
           for r in _exact_batch_cosine_scores(
               labeled, queries, "embedding", "vec_id", "label").collect()}
    want = {(r["__qid"], r["vec_id"]): r["__score"]
            for r in labeled.crossJoin(F.broadcast(queries)).select(
                "__qid", "vec_id",
                F.round(cosine_similarity(F.col("embedding"),
                                          F.col("__qv")), 6)
                .alias("__score")).collect()}
    assert set(got) == set(want)
    for k in want:
        assert got[k] == want[k], (k, got[k], want[k])


def test_exact_batch_scores_query_side_memo(spark, tmp_path, monkeypatch):
    """r15 opt: the exact-kNN scorer memoizes its driver-side query
    prefetch (collect + scorer UDF + qmap) per (session, plan
    fingerprint) — a re-construction over the same file-backed query
    relation must trigger NO driver action (the bench re-constructs
    every lane per warm sample) and return identical scores; a
    LocalRelation query side must NOT populate the memo (its canon
    string hides the data, trap 19)."""
    import hashlib

    import pyspark.sql.dataframe as D
    from pyspark.sql import functions as F

    from deeplake_spark import memo
    from deeplake_spark.operators import similarity as S

    def vec(seed, dim=8):
        return [(int(hashlib.md5(f"{seed}:{i}".encode()).hexdigest()[:8],
                     16) / 2**32) * 2 - 1 for i in range(dim)]

    p = str(tmp_path / "memoq")
    spark.createDataFrame(
        [(i, i % 3, vec(i)) for i in range(30)],
        "vec_id long, label int, embedding array<double>",
    ).write.parquet(p)
    base = spark.read.parquet(p)
    labeled = base.filter(F.col("vec_id") % 5 != 0)
    queries = base.filter(F.col("vec_id") % 5 == 0).select(
        F.col("vec_id").alias("__qid"), F.col("embedding").alias("__qv"))

    memo.QSIDE_CACHE.clear()
    first = sorted(
        tuple(r) for r in S._exact_batch_cosine_scores(
            labeled, queries, "embedding", "vec_id", "label").collect())
    assert len(memo.QSIDE_CACHE) == 1

    def boom(self, *a, **kw):
        raise AssertionError("driver action on memoized re-construction")

    monkeypatch.setattr(D.DataFrame, "collect", boom)
    monkeypatch.setattr(D.DataFrame, "head", boom)
    monkeypatch.setattr(D.DataFrame, "take", boom)
    # fresh lineage objects, same plan -> memo hit, no job
    queries2 = spark.read.parquet(p).filter(F.col("vec_id") % 5 == 0).select(
        F.col("vec_id").alias("__qid"), F.col("embedding").alias("__qv"))
    rel = S._exact_batch_cosine_scores(
        labeled, queries2, "embedding", "vec_id", "label")
    monkeypatch.undo()
    assert sorted(tuple(r) for r in rel.collect()) == first

    # LocalRelation query side: scored correctly but never cached
    memo.QSIDE_CACHE.clear()
    local_q = spark.createDataFrame(
        [(100, vec(100))], "__qid long, __qv array<double>")
    out = S._exact_batch_cosine_scores(
        labeled, local_q, "embedding", "vec_id", "label")
    assert out.count() == labeled.count()
    assert len(memo.QSIDE_CACHE) == 0

    # MIXED plan (file scan unioned with a LocalRelation of literals):
    # the canon string hides the literal rows exactly like the pure
    # LocalRelation case — must not populate the memo (r16; ADVICE #2)
    mixed_q = queries.unionByName(local_q)
    out2 = S._exact_batch_cosine_scores(
        labeled, mixed_q, "embedding", "vec_id", "label")
    assert out2.select("__qid").distinct().count() == 7
    assert len(memo.QSIDE_CACHE) == 0


def test_exact_batch_scores_memo_keys_on_file_content(spark, tmp_path):
    """r16 (ADVICE #1): the _QSIDE_CACHE key folds each input file's
    content fingerprint (mtime+size) — an in-session overwrite of the
    SAME part-file paths must MISS the memo and serve the fresh query
    rows, not the stale collected matrix."""
    import hashlib
    import os

    import pandas as pd
    from pyspark.sql import functions as F

    from deeplake_spark import memo
    from deeplake_spark.operators import similarity as S

    def vec(seed, dim=8):
        return [(int(hashlib.md5(f"{seed}:{i}".encode()).hexdigest()[:8],
                     16) / 2**32) * 2 - 1 for i in range(dim)]

    qfile = str(tmp_path / "q.parquet")
    pd.DataFrame({"__qid": [100], "__qv": [vec(100)]}).to_parquet(qfile)
    labeled = spark.createDataFrame(
        [(i, i % 3, vec(i)) for i in range(10)],
        "vec_id long, label int, embedding array<double>")

    memo.QSIDE_CACHE.clear()
    first = S._exact_batch_cosine_scores(
        labeled, spark.read.parquet(qfile), "embedding", "vec_id",
        "label").select("__qid").distinct().collect()
    assert {r["__qid"] for r in first} == {100}
    assert len(memo.QSIDE_CACHE) == 1

    # overwrite the SAME path with a different query set; bump mtime
    # explicitly (same-second rewrites on coarse-mtime filesystems)
    pd.DataFrame({"__qid": [200, 201],
                  "__qv": [vec(200), vec(201)]}).to_parquet(qfile)
    st = os.stat(qfile)
    os.utime(qfile, (st.st_atime, st.st_mtime + 2))
    fresh = S._exact_batch_cosine_scores(
        labeled, spark.read.parquet(qfile), "embedding", "vec_id",
        "label").select("__qid").distinct().collect()
    assert {r["__qid"] for r in fresh} == {200, 201}


def test_dsir_predicate_target_equals_frame_target(spark):
    """r15 opt (t30's one-pass lane): dsir_select with a Column
    predicate target must select exactly what the equivalent filtered
    DataFrame target selects — same docs, same weights, same keys."""
    from pyspark.sql import functions as F

    from deeplake_spark.operators.sampling import dsir_select

    rows = [(i, f"src{i % 4}",
             " ".join(f"w{(i * 7 + j) % 13}" for j in range(12)))
            for i in range(60)]
    rows.append((60, "src0", "x"))          # <2 tokens: no features
    rows.append((61, "src1", None))         # NULL text
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    pred = F.col("source").isin("src0", "src1")
    a = dsir_select(df, pred, k=20, n_buckets=64, seed=0, salt="t")
    b = dsir_select(df, df.filter(pred), k=20, n_buckets=64, seed=0, salt="t")
    ra = [tuple(r) for r in a.collect()]
    rb = [tuple(r) for r in b.collect()]
    assert ra == rb
    assert len(ra) > 0


def test_md5_int60_sql_twin_matches_column(spark, tmp_path):
    """r15 opt (trap 12): `_md5_int60_sql` — the SQL-fragment twin the
    sketch/minhash/CDC builders loop k/d/num_perm times per row
    expression — parses to the IDENTICAL Catalyst tree as the chained
    Column build (canonical optimized plan equality) and therefore the
    identical values, incl. over a composed sub-expression argument."""
    from pyspark.sql import functions as F

    from deeplake_spark.operators.dedup import _md5_int60, _md5_int60_sql

    p = str(tmp_path / "md5twin")
    spark.createDataFrame(
        [("alpha",), ("beta gamma",), ("",), (None,)], "s string"
    ).write.parquet(p)
    df = spark.read.parquet(p)

    def canon(d):
        return d._jdf.queryExecution().optimizedPlan().canonicalized().toString()

    for col_e, sql_e in [
        (_md5_int60(F.col("s"), 7), F.expr(_md5_int60_sql("s", 7))),
        # composed sub-expression argument (the CDC-context shape)
        (_md5_int60(F.concat(F.col("s"), F.lit("#x")), 3),
         F.expr(_md5_int60_sql("concat(s, '#x')", 3))),
    ]:
        d1 = df.select(col_e.alias("h"))
        d2 = df.select(sql_e.alias("h"))
        assert canon(d1) == canon(d2)
        assert [r.h for r in d1.collect()] == [r.h for r in d2.collect()]
