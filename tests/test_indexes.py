"""Index-backed search tests: every index probe must return exactly
the same rows as the scan-based predicate it replaces (the reference's
index tests compare index vs executor paths —
py_tests/test_text_search.py style), plus save/load round trips."""

from __future__ import annotations

import re
import tempfile

import pytest
from pyspark.sql import functions as F

from deeplake_spark.functions.text import contains_keyword
from deeplake_spark.io import load_table
from deeplake_spark.operators.indexes import (
    bm25_via_index,
    build_exact_index,
    build_inverted_index,
    build_json_index,
    build_numeric_index,
    contains_via_index,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


@pytest.fixture(scope="module")
def inv(docs, round_trip):
    return round_trip(build_inverted_index(docs))


def test_contains_probe_matches_scan(spark, docs, inv):
    via_index = sorted(r.doc_id for r in contains_via_index(docs, inv, "spark").collect())
    via_scan = sorted(
        r.doc_id for r in docs.filter(contains_keyword(F.col("text"), "spark")).collect()
    )
    assert via_index == via_scan and len(via_index) > 0


def test_probe_all_mode(docs, inv):
    both = sorted(r.row_id for r in inv.probe(["spark", "join"], mode="all").collect())
    scan = sorted(
        r.doc_id
        for r in docs.filter(
            contains_keyword(F.col("text"), "spark") & contains_keyword(F.col("text"), "join")
        ).collect()
    )
    assert both == scan


def test_bm25_via_index_matches_direct(spark, sf_dir, docs, inv):
    from deeplake_spark.queries.text_ops import bm25_scores

    via_index = bm25_via_index(inv, ["spark", "join", "vector"], k=15).collect()
    direct = (
        bm25_scores(docs, ["spark", "join", "vector"])
        .select(F.col("doc_id").alias("row_id"), F.round("bm25", 6).alias("bm25"))
        .orderBy(F.desc("bm25"), "row_id")
        .limit(15)
        .collect()
    )
    assert [(r.row_id, r.bm25) for r in via_index] == [(r.row_id, r.bm25) for r in direct]


def test_inverted_save_load(spark, docs, inv):
    from deeplake_spark.operators.indexes import InvertedIndex

    with tempfile.TemporaryDirectory() as d:
        build_inverted_index(docs).save(d)
        loaded = InvertedIndex.load(spark, d)
        a = sorted(r.row_id for r in loaded.probe(["spark"]).collect())
        b = sorted(r.row_id for r in inv.probe(["spark"]).collect())
        assert a == b
        # partition-pruned layout on disk: term buckets
        import os

        assert any(f.startswith("bucket=") for f in os.listdir(os.path.join(d, "postings")))


def test_numeric_index(spark, docs, round_trip):
    idx = round_trip(build_numeric_index(docs, "n_chars"))
    got = sorted(r.row_id for r in idx.probe_between(100, 200).collect())
    exp = sorted(r.doc_id for r in docs.filter(F.col("n_chars").between(100, 200)).collect())
    assert got == exp


def test_json_index(spark, sf_dir, round_trip):
    ev = load_table(spark, sf_dir, "events")
    idx = round_trip(build_json_index(ev, "props", ["k"]))
    got = sorted(r.row_id for r in idx.probe("k", 7).collect())
    exp = sorted(
        r.event_id
        for r in ev.filter(F.get_json_object("props", "$.k") == "7").collect()
    )
    assert got == exp


def test_exact_index(spark, docs, round_trip):
    some_text = docs.filter(F.col("doc_id") == 3).head().text
    idx = round_trip(build_exact_index(docs, "text"))
    got = {r.row_id for r in idx.probe(some_text).collect()}
    exp = {r.doc_id for r in docs.filter(F.col("text") == some_text).collect()}
    assert got == exp and 3 in got


def test_probe_all_mode_dedups_case_variant_terms(docs, inv):
    """r14 review: probe(['Spark','spark'], mode='all') must behave as
    ONE required term — the distinct matched-term count is compared
    against the DEDUPED query set, or the AND probe is wrongly empty."""
    one = sorted(r.row_id for r in inv.probe(["spark"]).collect())
    dup = sorted(r.row_id for r in
                 inv.probe(["Spark", "spark"], mode="all").collect())
    assert dup == one and len(one) > 0


def test_exact_index_alpha_probe_on_digit_inferred_buckets(spark):
    """r14 review (confirmed live): when every stored digest prefix is
    all-digits, partition-type inference would load `bucket` as INT and
    a probe whose md5 prefix contains a letter crashed with an ANSI
    CAST_INVALID_INPUT. The manifest records the written schema, so
    `bucket` stays a string: the alpha probe returns EMPTY and the
    digit probe still prunes to its bucket."""
    import hashlib
    import tempfile

    from deeplake_spark.operators.indexes import (
        ExactTextIndex, build_exact_index)

    # find values whose md5 prefixes are digit-only / alpha-bearing
    digit_vals, alpha_val = [], None
    i = 0
    while len(digit_vals) < 3 or alpha_val is None:
        v = f"doc-{i}"
        p = hashlib.md5(v.encode()).hexdigest()[:2]
        if p.isdigit() and len(digit_vals) < 3:
            digit_vals.append(v)
        elif not p.isdigit() and alpha_val is None:
            alpha_val = v
        i += 1
    df = spark.createDataFrame(
        [(j, v) for j, v in enumerate(digit_vals)], "doc_id long, text string")
    with tempfile.TemporaryDirectory() as d:
        build_exact_index(df, "text").save(d)
        idx = ExactTextIndex.load(spark, d)
        assert dict(idx.digests.dtypes)["bucket"] == "string"
        assert idx.probe(alpha_val).count() == 0          # was: crash
        assert idx.probe(digit_vals[0]).count() == 1      # pruning intact


def test_filtered_ann_widens_probe_for_selective_filters(spark, tmp_path):
    """Filtered ANN recall compensation: when the top-k sits above a
    selective WHERE, candidates = nprobe cells ∩ filter — if the
    filtered rows live in cells FAR from the query, the unwidened
    probe demonstrably misses them. The reference never degrades here
    (it runs top_k with a roaring prefilter over the FULL index,
    index_holder.hpp:35-36); we compensate by widening eff-nprobe by
    1/selectivity, estimated from the task-1 stats sidecars. This
    fixture is adversarial by construction: 90% of vectors (and the
    query) sit at +A, the 10% passing the filter sit at -A."""
    import numpy as np

    import deeplake_spark as dl
    from deeplake_spark.operators.similarity import IVFIndex, ivf_search

    rng = np.random.default_rng(11)
    rows = []
    for i in range(1000):
        filt = i % 10 == 0
        base = -10.0 if filt else 10.0
        v = rng.normal(0, 0.2, 8)
        v[0] += base
        rows.append((i, 1 if filt else 0, [float(x) for x in v]))
    df = spark.createDataFrame(
        rows, "vec_id long, grp long, embedding array<double>")
    src = str(tmp_path / "fembed.parquet")
    df.write.parquet(src)
    ds = dl.from_parquet(src, str(tmp_path / "fds"), spark)
    ds.create_index("embedding", "clustered", n_clusters=8)
    ds.create_index("grp", "numeric")
    qv = [10.0] + [0.0] * 7

    base_df = ds.to_df()
    filtered = base_df.filter("grp = 1")
    from deeplake_spark.operators.similarity import topk_cosine

    exact = [r._row_id for r in
             topk_cosine(filtered, "embedding", qv, k=5,
                         id_col="_row_id").collect()]
    assert len(exact) == 5

    idx = IVFIndex.load(spark, f"{ds.path}/_indexes/embedding_clustered")
    cand = filtered.select("_row_id")
    # UNWIDENED: the 4 default cells are all +A cells; ∩ filter = ∅
    unwidened = ivf_search(idx, qv, k=5, candidates=cand)
    assert unwidened.count() == 0, "fixture not adversarial enough"
    # widened by the estimated 10% selectivity: full probe, exact rows
    widened = [r._row_id for r in
               ivf_search(idx, qv, k=5, candidates=cand,
                          candidate_selectivity=0.1).collect()]
    assert len(set(widened) & set(exact)) / 5 >= 0.6

    # end-to-end TQL: the translator estimates the BETWEEN's
    # selectivity from the numeric index's bucket stats and widens
    got = [r.vec_id for r in ds.query(
        "SELECT vec_id WHERE grp BETWEEN 1 AND 1 "
        "ORDER BY COSINE_SIMILARITY(embedding, ?) DESC LIMIT 5",
        params=[qv]).collect()]
    id_map = {r._row_id: r.vec_id for r in
              base_df.select("_row_id", "vec_id").collect()}
    assert len(set(got) & {id_map[i] for i in exact}) / 5 >= 0.6


def test_filtered_ann_widening_cap_falls_back_to_exact(spark, tmp_path,
                                                      monkeypatch):
    """Widening cost ceiling (SearchConfig.max_widen_factor): a
    very-low-selectivity filter would turn the recall compensation
    into a (near-)full-index probe — paying most of a corpus scan AND
    a rerank. The route must decline instead and leave the stock
    exact plan: 2000 rows, 0.5% pass the filter, 64 cells, fast
    preset (base probe 4 cells) — honoring recall needs all 64 cells,
    past the 8x cap."""
    import numpy as np

    import deeplake_spark as dl
    from deeplake_spark.operators.similarity import (
        SearchConfig, _widened_nprobe, _widening_capped, topk_cosine)

    assert _widening_capped(64, SearchConfig.fast(), 0.005)
    assert not _widening_capped(64, SearchConfig.fast(), None)
    assert not _widening_capped(64, SearchConfig(), 0.1)
    # direct API calls stay cost-bounded rather than full-probe
    assert _widened_nprobe(64, SearchConfig.fast(), 0.005) == 32

    rng = np.random.default_rng(17)
    rows = []
    for i in range(2000):
        filt = i % 200 == 0
        v = rng.normal(0, 0.2, 8)
        v[0] += -10.0 if filt else 10.0
        rows.append((i, 1 if filt else 0, [float(x) for x in v]))
    df = spark.createDataFrame(
        rows, "vec_id long, grp long, embedding array<double>")
    src = str(tmp_path / "cembed.parquet")
    df.write.parquet(src)
    ds = dl.from_parquet(src, str(tmp_path / "cds"), spark)
    ds.create_index("embedding", "clustered", n_clusters=64)
    ds.create_index("grp", "numeric")
    qv = [10.0] + [0.0] * 7

    exact = {r.vec_id for r in
             topk_cosine(ds.to_df().filter("grp = 1"), "embedding", qv,
                         k=5, id_col="vec_id").collect()}
    assert len(exact) == 5

    # the route probes the index through ivf_search (a loaded index
    # runs it at translation, so its scan is not in the final plan)
    import deeplake_spark.operators.similarity as sim

    probes = []
    real_search = sim.ivf_search

    def spy(*a, **kw):
        probes.append(a)
        return real_search(*a, **kw)

    monkeypatch.setattr(sim, "ivf_search", spy)
    q = ("SELECT vec_id WHERE grp BETWEEN 1 AND 1 "
         "ORDER BY COSINE_SIMILARITY(embedding, ?) DESC LIMIT 5")
    ds.query_config = SearchConfig.fast()
    capped = ds.query(q, params=[qv])
    assert probes == []
    assert {r.vec_id for r in capped.collect()} == exact
    # default preset: base 32 cells, need 64 <= 8x32 -> still routes
    ds.query_config = SearchConfig()
    routed = ds.query(q, params=[qv])
    assert len(probes) == 1
    assert {r.vec_id for r in routed.collect()} <= {
        r.vec_id for r in ds.to_df().filter("grp = 1").collect()}


def test_inverted_termstats_sidecar_and_merge(spark, tmp_path):
    """save() persists heavy-term df + corpus size (the routing gate's
    stats, reference column_statistics.cpp:278-356); append_to merges
    by summing so the unknown-term upper bound survives deltas."""
    from deeplake_spark.operators.indexes import InvertedIndex

    df = spark.createDataFrame(
        [(i, "common " + ("rareword" if i == 0 else "filler")) for i in range(20)],
        "doc_id long, text string")
    p = str(tmp_path / "inv")
    build_inverted_index(df, "text", "doc_id").save(p)
    idx = InvertedIndex.load(spark, p)
    assert idx.n_docs_est == 20
    assert idx.est_selectivity("common") == 1.0
    assert idx.est_selectivity("rareword") == pytest.approx(0.05)
    # unknown terms: bounded by the recording floor (always routable)
    assert idx.est_selectivity("neverseen") <= 1.0 / 64

    delta = spark.createDataFrame(
        [(100 + i, "common extra") for i in range(10)],
        "doc_id long, text string")
    build_inverted_index(delta, "text", "doc_id").save(p, mode="append")
    merged = InvertedIndex.load(spark, p)
    assert merged.n_docs_est == 30
    assert merged.est_selectivity("common") == 1.0
    assert merged.est_selectivity("rareword") == pytest.approx(1 / 30)


def test_numeric_bucket_counts_sidecar_and_merge(spark, tmp_path):
    """NumericIndex's manifest meta carries the 64-bucket histogram the
    range/IN gate estimates from; append_to sums the delta's counts
    (out-of-range values clamp to edge buckets, same as the writer)."""
    from deeplake_spark.operators.indexes import NumericIndex

    df = spark.createDataFrame([(i, float(i)) for i in range(100)],
                               "row long, v double")
    p = str(tmp_path / "num")
    build_numeric_index(df, "v", id_col="row").save(p)
    idx = NumericIndex.load(spark, p)
    assert idx.n_rows == 100
    assert idx.est_range_selectivity(0, 99) == 1.0
    narrow = idx.est_range_selectivity(0, 5)
    assert narrow is not None and narrow <= 0.15   # bucket resolution
    assert idx.est_in_selectivity([0.0]) <= 0.05
    assert idx.est_range_selectivity(None, 10) <= 0.2   # open lower bound

    delta = spark.createDataFrame([(1000 + i, 1e6) for i in range(100)],
                                  "row long, v double")
    build_numeric_index(delta, "v", id_col="row").save(p, mode="append")
    merged = NumericIndex.load(spark, p)
    assert merged.n_rows == 200
    # the delta clamped into the top bucket: full-range still 1.0,
    # a low range now ~half as selective
    assert merged.est_range_selectivity(0, 99) == 1.0
    assert merged.est_range_selectivity(0, 5) == pytest.approx(
        narrow / 2, rel=0.01)


def test_exact_and_json_gate_stats(spark, tmp_path):
    """Round-9: JSON path-value and exact-digest probes carry the same
    heavy-hitter selectivity sidecars as inverted terms (digeststats /
    valstats.json) and the same cost gate — a hot exact value (the
    boilerplate/empty document) or a hot json value ('type':'like' in
    a bluesky-style stream, reference bluesky_queries.sql) keeps the
    stock pushed-down filter; rare values still route. Results
    identical either way."""
    from deeplake_spark import tql
    from deeplake_spark.operators.indexes import (
        ExactTextIndex,
        JsonIndex,
        build_exact_index,
        build_json_index,
    )
    from deeplake_spark.plans.explain import explain_query

    rows = [(i,
             "boiler" if i % 2 == 0 else f"unique-{i}",
             '{"type": "like"}' if i % 5 != 0
             else '{"type": "rare%d"}' % i)
            for i in range(1000)]
    df = spark.createDataFrame(rows, "row_id long, text string, meta string")
    epath, jpath = str(tmp_path / "eidx"), str(tmp_path / "jidx")
    build_exact_index(df, "text", id_col="row_id").save(epath)
    build_json_index(df, "meta", ["type"], id_col="row_id").save(jpath)
    eidx = ExactTextIndex.load(spark, epath)
    jidx = JsonIndex.load(spark, jpath)

    # sidecar estimates: hot values measured, absent bounded by floor
    assert abs(eidx.est_selectivity("boiler") - 0.5) < 0.01
    assert eidx.est_selectivity("unique-7") <= eidx.floor_frac
    assert abs(jidx.est_selectivity("type", "like") - 0.8) < 0.01
    assert jidx.est_selectivity("type", "rare5") <= jidx.floor_frac

    indexes = {"text": ("exact", eidx, "row_id"),
               "meta": ("json", jidx, "row_id")}
    pairs = [
        ("SELECT row_id WHERE EQUALS(text, 'boiler')", False,
         df.filter(F.col("text") == "boiler")),
        ("SELECT row_id WHERE EQUALS(text, 'unique-7')", True,
         df.filter(F.col("text") == "unique-7")),
        ("SELECT row_id WHERE meta['type'] == 'like'", False,
         df.filter(F.get_json_object("meta", "$.type") == "like")),
        ("SELECT row_id WHERE meta['type'] == 'rare5'", True,
         df.filter(F.get_json_object("meta", "$.type") == "rare5")),
    ]
    for q, should_route, scan in pairs:
        out = tql.query(q, default=df, indexes=indexes)
        assert ("Join" in explain_query(out).text) == should_route, q
        assert sorted(r.row_id for r in out.collect()) == sorted(
            r.row_id for r in scan.collect()), q
    # delta append merges the sidecars by summing
    delta = spark.createDataFrame(
        [(1000 + i, "boiler", '{"type": "like"}') for i in range(100)],
        "row_id long, text string, meta string")
    build_exact_index(delta, "text", id_col="row_id").save(epath, mode="append")
    merged = ExactTextIndex.load(spark, epath)
    assert merged.n_rows_est == 1100
    assert abs(merged.est_selectivity("boiler") - 600 / 1100) < 0.01


def test_dataset_create_index_and_tql_rewrite(spark, sf_dir):
    """End-to-end: ds.create_index → TQL CONTAINS routes through the
    posting semijoin for a SELECTIVE term and matches the scan path —
    while a frequent term (df ≈ 0.77·N in this fixture) stays on the
    stock scan filter under the default selectivity gate (the
    reference's pg_costestimate behavior, index_search.cpp:316-420):
    semijoining a near-corpus-size probe side loses to the in-place
    filter, measurably (sf0.1: 1.6x)."""
    import tempfile

    from deeplake_spark import dataset as dl
    from deeplake_spark.operators.indexes import MAX_SELECTIVITY_KEY
    from deeplake_spark.plans.explain import explain_query

    with tempfile.TemporaryDirectory() as d:
        ds = dl.from_parquet(f"{sf_dir}/documents.parquet", d + "/ds", spark)
        q_rare = "SELECT doc_id WHERE CONTAINS(text, 'dup')"
        q_freq = "SELECT doc_id WHERE CONTAINS(text, 'spark')"
        scan_rare = {r.doc_id for r in ds.query(q_rare).collect()}
        scan_freq = {r.doc_id for r in ds.query(q_freq).collect()}
        assert scan_rare and scan_freq
        ds.create_index("text", "inverted")
        # selective term: routed (posting semijoin), same rows
        via = ds.query(q_rare)
        assert {r.doc_id for r in via.collect()} == scan_rare
        assert "Join" in explain_query(via).text
        # frequent term: the gate keeps the stock plan, same rows
        freq = ds.query(q_freq)
        assert {r.doc_id for r in freq.collect()} == scan_freq
        assert "Join" not in explain_query(freq).text
        # raising the threshold routes the frequent term again
        spark.conf.set(MAX_SELECTIVITY_KEY, "1.0")
        try:
            assert "Join" in explain_query(ds.query(q_freq)).text
        finally:
            spark.conf.unset(MAX_SELECTIVITY_KEY)
        ds.drop_index("text")
        assert {r.doc_id for r in ds.query(q_rare).collect()} == scan_rare


def test_numeric_and_json_index_rewrites(spark, sf_dir, round_trip):
    """Translator routes BETWEEN/IN through a numeric index and
    json_col['path'] == lit through a JSON index; results must equal
    the scan path."""
    from deeplake_spark import tql
    from deeplake_spark.operators.indexes import build_json_index, build_numeric_index

    docs = load_table(spark, sf_dir, "documents")
    ev = load_table(spark, sf_dir, "events")
    nidx = round_trip(build_numeric_index(docs, "n_chars", id_col="doc_id"))
    jidx = round_trip(build_json_index(ev, "props", ["k"], id_col="event_id"))
    indexes = {
        "n_chars": ("numeric", nidx, "doc_id"),
        "props": ("json", jidx, "event_id"),
    }

    between = tql.query(
        "SELECT doc_id WHERE n_chars BETWEEN 100 AND 200", default=docs, indexes=indexes
    )
    scan_b = docs.filter(F.col("n_chars").between(100, 200))
    assert sorted(r.doc_id for r in between.collect()) == sorted(
        r.doc_id for r in scan_b.collect()
    )

    inq = tql.query(
        "SELECT doc_id WHERE n_chars IN (128, 200, 305)", default=docs, indexes=indexes
    )
    scan_i = docs.filter(F.col("n_chars").isin(128, 200, 305))
    assert inq.count() == scan_i.count()

    jq = tql.query(
        "SELECT event_id WHERE props['k'] == '7'", default=ev, indexes=indexes
    )
    scan_j = ev.filter(F.get_json_object("props", "$.k") == "7")
    assert sorted(r.event_id for r in jq.collect()) == sorted(
        r.event_id for r in scan_j.collect()
    )
    # plan proof: probes are joins, not raw filters
    from deeplake_spark.plans.explain import explain_query

    assert "Join" in explain_query(jq).text

    # r14 review (confirmed live): a NON-STRING literal must NOT route
    # — the index stores raw JSON strings, but stock numeric equality
    # coerces (props['k'] == 7 matches {"k":7} AND {"k":7.0}), so a
    # str(7) probe would drop rows. Results must equal the stock scan
    # AND the plan must stay a filter, not a probe join.
    jq_num = tql.query(
        "SELECT event_id WHERE props['k'] == 7", default=ev,
        indexes=indexes)
    scan_n = ev.filter(F.get_json_object("props", "$.k") == 7)
    assert sorted(r.event_id for r in jq_num.collect()) == sorted(
        r.event_id for r in scan_n.collect())
    assert "Join" not in explain_query(jq_num).text
    # the coercion divergence itself, pinned on a crafted corpus
    mixed = spark.createDataFrame(
        [(1, '{"n": 5}'), (2, '{"n": 5.0}')], "event_id long, props string")
    from deeplake_spark.operators.indexes import build_json_index as bji
    midx = {"props": ("json", round_trip(bji(mixed, "props", ["n"],
                                             id_col="event_id")),
                      "event_id")}
    got = tql.query("SELECT event_id WHERE props['n'] == 5.0",
                    default=mixed, indexes=midx)
    assert sorted(r.event_id for r in got.collect()) == [1, 2]


def test_ivf_save_load_partition_pruning(spark, sf_dir):
    """Persisted IVF: cluster-partitioned layout; a probe's scan reads
    only the probed cluster partitions (partition pruning in the plan)."""
    import os
    import tempfile

    from deeplake_spark.operators.similarity import (
        IVFIndex,
        SearchConfig,
        build_ivf,
        ivf_search,
    )

    e = load_table(spark, sf_dir, "embeddings")
    q = list(e.filter(F.col("vec_id") == 0).head().embedding)
    idx = build_ivf(e, n_clusters=8, seed=42)
    with tempfile.TemporaryDirectory() as d:
        idx.save(d + "/ivf")
        assert any(
            f.startswith("cluster=") for f in os.listdir(d + "/ivf/assignments")
        )
        loaded = IVFIndex.load(spark, d + "/ivf")
        a = [r.vec_id for r in ivf_search(loaded, q, k=10, config=SearchConfig.balanced()).collect()]
        assert len(a) == 10 and a[0] == 0
        # the round trip keeps every row's cluster assignment
        assert sorted(loaded.assignments.select("vec_id", "cluster").collect()) \
            == sorted(idx.assignments.select("vec_id", "cluster").collect())
        # partition pruning: the pruned scan's PartitionFilters hit `cluster`
        from deeplake_spark.plans.explain import explain_query

        rep = explain_query(ivf_search(loaded, q, k=10, config=SearchConfig.balanced()))
        assert "cluster" in rep.text and "PartitionFilters" in rep.text


def test_dataset_clustered_index_search(spark, sf_dir):
    import tempfile

    from deeplake_spark import dataset as dl
    from deeplake_spark.operators.similarity import SearchConfig

    with tempfile.TemporaryDirectory() as d:
        ds = dl.from_parquet(f"{sf_dir}/embeddings.parquet", d + "/ds", spark)
        q = list(ds[0].embedding)
        exact = [r._row_id for r in ds.search("embedding", q, k=10).collect()]
        ds.create_index("embedding", "clustered")
        approx = [r._row_id for r in
                  ds.search("embedding", q, k=10, config=SearchConfig.high_accuracy()).collect()]
        recall = len(set(exact) & set(approx)) / 10
        assert recall >= 0.9, f"recall {recall}"


def test_numeric_json_exact_save_load_roundtrip(spark, sf_dir):
    """Persistence for the three round-1 ephemeral indexes: save/load
    round-trips and the loaded index probes equal the scan path."""
    import tempfile

    from deeplake_spark.operators.indexes import (
        ExactTextIndex,
        JsonIndex,
        NumericIndex,
        build_exact_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    ev = load_table(spark, sf_dir, "events")
    with tempfile.TemporaryDirectory() as d:
        build_numeric_index(docs, "n_chars", id_col="doc_id").save(d + "/num")
        nidx = NumericIndex.load(spark, d + "/num")
        got = sorted(r.row_id for r in nidx.probe_between(100, 200).collect())
        want = sorted(r.doc_id for r in docs.filter(F.col("n_chars").between(100, 200)).collect())
        assert got == want and len(got) > 0

        build_json_index(ev, "props", ["k"], id_col="event_id").save(d + "/json")
        jidx = JsonIndex.load(spark, d + "/json")
        got = sorted(r.row_id for r in jidx.probe("k", "7").collect())
        want = sorted(
            r.event_id for r in ev.filter(F.get_json_object("props", "$.k") == "7").collect()
        )
        assert got == want and len(got) > 0

        build_exact_index(docs, "lang", id_col="doc_id").save(d + "/exact")
        eidx = ExactTextIndex.load(spark, d + "/exact")
        got = sorted(r.row_id for r in eidx.probe("en").collect())
        want = sorted(r.doc_id for r in docs.filter(F.col("lang") == "en").collect())
        assert got == want and len(got) > 0


def test_equals_exact_index_rewrite(spark, sf_dir, round_trip):
    """EQUALS(col, 'lit') routes through a registered exact index. 'en'
    is a hot value, so the selectivity gate is opened for the route."""
    from deeplake_spark import tql
    from deeplake_spark.operators.indexes import MAX_SELECTIVITY_KEY
    from deeplake_spark.plans.explain import explain_query

    docs = load_table(spark, sf_dir, "documents")
    eidx = round_trip(build_exact_index(docs, "lang", id_col="doc_id"))
    spark.conf.set(MAX_SELECTIVITY_KEY, "1.0")
    try:
        out = tql.query(
            "SELECT doc_id WHERE EQUALS(lang, 'en')",
            spark=spark,
            default=docs,
            indexes={"lang": ("exact", eidx, "doc_id")},
        )
        scan = docs.filter(F.col("lang") == "en")
        assert sorted(r.doc_id for r in out.collect()) == sorted(r.doc_id for r in scan.collect())
        assert "Join" in explain_query(out).text
    finally:
        spark.conf.unset(MAX_SELECTIVITY_KEY)



def test_route_gate_reads_the_bound_frames_session(spark, sf_dir,
                                                   round_trip):
    """tql.query with no spark= reads routing.maxSelectivity from the
    bound frame's session, as the corpus floor does: a hot EQUALS that
    the DEFAULT gate declines routes once the session opens the gate,
    and returns the stock rows."""
    from deeplake_spark import tql
    from deeplake_spark.operators.indexes import (
        DEFAULT_MAX_SELECTIVITY,
        MAX_SELECTIVITY_KEY,
    )

    docs = load_table(spark, sf_dir, "documents")
    eidx = round_trip(build_exact_index(docs, "lang", id_col="doc_id"))
    assert eidx.est_selectivity("en") > DEFAULT_MAX_SELECTIVITY  # hot
    q = "SELECT doc_id WHERE EQUALS(lang, 'en')"
    indexes = {"lang": ("exact", eidx, "doc_id")}
    spark.conf.set(MAX_SELECTIVITY_KEY, "1.0")
    try:
        out = tql.query(q, default=docs, indexes=indexes)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "LeftSemi" in plan, plan[:400]
        stock = tql.query(q, default=docs)
        assert sorted(r.doc_id for r in out.collect()) == \
            sorted(r.doc_id for r in stock.collect())
    finally:
        spark.conf.unset(MAX_SELECTIVITY_KEY)

def test_tql_ann_routing(spark, sf_dir, round_trip):
    """TQL `ORDER BY COSINE_SIMILARITY(...) DESC LIMIT k` on an indexed
    column routes through the IVF probe (no corpus-wide sort in the
    plan) with recall >= 0.9 vs the exact scan; WHERE becomes the
    candidate prefilter and stays exact."""
    from deeplake_spark import tql
    from deeplake_spark.operators.similarity import SearchConfig, build_ivf, topk_cosine

    e = load_table(spark, sf_dir, "embeddings")
    q = list(e.filter(F.col("vec_id") == 0).select("embedding").head()[0])
    idx = round_trip(build_ivf(e, n_clusters=8, seed=42))
    indexes = {"embedding": ("clustered", idx, "vec_id")}

    routed = tql.query(
        "SELECT vec_id, COSINE_SIMILARITY(embedding, ?) AS score "
        "ORDER BY score DESC LIMIT 10",
        default=e, params=[q], indexes=indexes,
        search_config=SearchConfig.high_accuracy(),
    )
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan  # index semijoin, not a full-corpus sort
    approx = {r.vec_id for r in routed.collect()}
    exact = {r.vec_id for r in topk_cosine(e, "embedding", q, k=10, id_col="vec_id").collect()}
    recall = len(approx & exact) / 10
    assert recall >= 0.9, f"TQL ANN recall {recall}"

    # filtered search: WHERE prefilter respected exactly
    filtered = tql.query(
        "SELECT vec_id, COSINE_SIMILARITY(embedding, ?) AS score "
        "WHERE label == 3 ORDER BY score DESC LIMIT 5",
        default=e, params=[q], indexes=indexes,
        search_config=SearchConfig.high_accuracy(),
    )
    rows = filtered.collect()
    assert 0 < len(rows) <= 5
    labels = {r.label for r in e.join(
        spark.createDataFrame([(r.vec_id,) for r in rows], "vec_id long"),
        "vec_id", "left_semi").collect()}
    assert labels == {3}

    # no index registered -> exact scan still answers (fallback path)
    unrouted = tql.query(
        "SELECT vec_id, COSINE_SIMILARITY(embedding, ?) AS score "
        "ORDER BY score DESC LIMIT 10",
        default=e, params=[q], indexes={},
    )
    assert {r.vec_id for r in unrouted.collect()} == exact


def test_dataset_index_kinds_and_filtered_search(spark, sf_dir):
    """Dataset.create_index persists numeric/json/exact kinds;
    ds.query routes through the loaded indexes; ds.search(predicate=)
    combines filter + ANN."""
    import tempfile

    from deeplake_spark import dataset as dl

    docs = load_table(spark, sf_dir, "documents").limit(200)
    emb = load_table(spark, sf_dir, "embeddings")
    with tempfile.TemporaryDirectory() as d:
        ds = dl.from_parquet(f"{sf_dir}/documents.parquet", d + "/docs", spark)
        ds.create_index("n_chars", "numeric")
        ds.create_index("lang", "exact")
        out = ds.query("SELECT doc_id WHERE n_chars BETWEEN 100 AND 200")
        want = sorted(r.doc_id for r in docs.sparkSession.read.parquet(
            f"{sf_dir}/documents.parquet").filter(F.col("n_chars").between(100, 200)).collect())
        assert sorted(r.doc_id for r in out.collect()) == want

        es = dl.from_parquet(f"{sf_dir}/embeddings.parquet", d + "/emb", spark)
        es.create_index("embedding", "clustered", n_clusters=8, seed=42)
        hits = es.search("embedding", [0.0] * 64, k=5, predicate="label == 2")
        got = hits.collect()
        assert 0 < len(got) <= 5
        base = es.to_df()
        ok_labels = {r.label for r in base.join(
            spark.createDataFrame([(r._row_id,) for r in got], "_row_id long"),
            "_row_id", "left_semi").collect()}
        assert ok_labels == {2}


def test_tql_bm25_routing(spark, sf_dir, tmp_path):
    """TQL `ORDER BY BM25_SIMILARITY(text, 'q') DESC LIMIT k` on an
    inverted-indexed column routes through the persisted posting tables
    (index_search.cpp:135-170): scores equal corpus-wide BM25 exactly,
    and the executed plan never tokenizes the corpus."""
    from deeplake_spark import tql
    from deeplake_spark.operators.indexes import InvertedIndex
    from deeplake_spark.queries.text_ops import bm25_scores

    d = load_table(spark, sf_dir, "documents")
    p = str(tmp_path / "inv")
    build_inverted_index(d, text_col="text", id_col="doc_id").save(p)
    idx = InvertedIndex.load(spark, p)
    indexes = {"text": ("inverted", idx, "doc_id")}

    routed = tql.query(
        "SELECT doc_id, BM25_SIMILARITY(text, 'spark join vector') AS score "
        "ORDER BY score DESC LIMIT 10",
        default=d, indexes=indexes)
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "split(" not in plan, "corpus tokenize leaked into the probe plan"
    got = {r.doc_id: r.score for r in routed.collect()}
    exact = {
        r.doc_id: float(r.bm25)
        for r in bm25_scores(d, ["spark", "join", "vector"])
        .select("doc_id", F.round("bm25", 6).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id").limit(10).collect()
    }
    assert got == exact

    # WHERE becomes the candidate set (filter+search): every hit
    # satisfies the predicate, scores keep GLOBAL idf/stats
    filtered = tql.query(
        "SELECT doc_id, BM25_SIMILARITY(text, 'spark join vector') AS score "
        "WHERE n_chars > 200 ORDER BY score DESC LIMIT 5",
        default=d, indexes=indexes)
    rows = filtered.collect()
    assert 0 < len(rows) <= 5
    ok = d.filter(F.col("n_chars") > 200)
    allowed = {r.doc_id for r in ok.select("doc_id").collect()}
    assert {r.doc_id for r in rows} <= allowed
    full = {r.doc_id: r.score for r in routed.collect()}
    for r in rows:
        if r.doc_id in full:
            assert abs(r.score - full[r.doc_id]) < 1e-9

    # terms with no postings: an empty top-k, not an error
    assert tql.query(
        "SELECT doc_id, BM25_SIMILARITY(text, 'zzznosuchterm qqqnone') "
        "AS s ORDER BY s DESC LIMIT 5", default=d,
        indexes=indexes).collect() == []

    # without an index the function is a clear error, not a wrong answer
    import pytest as _pytest

    with _pytest.raises(Exception, match="inverted index"):
        tql.query(
            "SELECT doc_id, BM25_SIMILARITY(text, 'spark') AS s "
            "ORDER BY s DESC LIMIT 5", default=d).collect()


def test_tql_maxsim_routing(spark, sf_dir, tmp_path):
    """TQL `ORDER BY MAXSIM(col, ?) DESC LIMIT k` with a pooled index
    routes through the 2-stage probe; recall >= 0.8 vs exact MAXSIM;
    without an index the MAXSIM scalar (pandas UDF) answers exactly."""
    from deeplake_spark import tql
    from deeplake_spark.functions.vector import maxsim_pandas
    from deeplake_spark.operators.similarity import (
        PooledMaxsimIndex,
        SearchConfig,
        build_pooled_maxsim,
    )

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
    qm = [list(r.embedding)
          for r in e.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()]

    p = str(tmp_path / "pooled")
    build_pooled_maxsim(docs, "mat", "doc_id").save(p)
    idx = PooledMaxsimIndex.load(spark, p, source=docs)

    routed = tql.query(
        "SELECT doc_id, MAXSIM(mat, ?) AS score ORDER BY score DESC LIMIT 5",
        default=docs, params=[qm],
        indexes={"mat": ("pooled", idx, "doc_id")},
        search_config=SearchConfig.high_accuracy())
    approx = [r.doc_id for r in routed.collect()]

    maxsim = maxsim_pandas()
    qm_lit = F.array(*[F.array(*[F.lit(float(v)) for v in row]) for row in qm])
    exact_df = (
        docs.select("doc_id", F.round(maxsim(F.col("mat"), qm_lit), 6).alias("s"))
        .orderBy(F.desc("s"), "doc_id").limit(5)
    )
    exact = [r.doc_id for r in exact_df.collect()]
    recall = len(set(exact) & set(approx)) / 5
    assert recall >= 0.8, f"TQL maxsim recall {recall}: {approx} vs {exact}"

    # no index -> brute-force scalar path, exact
    brute = tql.query(
        "SELECT doc_id, MAXSIM(mat, ?) AS score ORDER BY score DESC, doc_id LIMIT 5",
        default=docs, params=[qm])
    assert [r.doc_id for r in brute.collect()] == exact


def test_dataset_pooled_index_end_to_end(spark, sf_dir):
    """ds.create_index(col, 'pooled') persists the pooled table and
    ds.query routes MAXSIM through it (types.pyi:604-615)."""
    import tempfile

    from deeplake_spark import dataset as dl
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
    )
    qm = [list(r.embedding)
          for r in e.filter(F.col("vec_id") < 2).orderBy("vec_id").collect()]

    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(d + "/docs.parquet")
        ds = dl.from_parquet(d + "/docs.parquet", d + "/ds", spark)
        ds.create_index("mat", "pooled")
        out = ds.query(
            "SELECT doc_id, MAXSIM(mat, ?) AS score ORDER BY score DESC LIMIT 5",
            params=[qm])
        rows = out.collect()
        assert 0 < len(rows) <= 5
        # rerank scores are exact MAXSIM values for the returned docs
        maxsim = maxsim_pandas()
        qm_lit = F.array(*[F.array(*[F.lit(float(v)) for v in row]) for row in qm])
        expect = {
            r.doc_id: float(r.s)
            for r in ds.to_df().select(
                "doc_id", F.round(maxsim(F.col("mat"), qm_lit), 6).alias("s")).collect()
        }
        for r in rows:
            assert abs(r.score - expect[r.doc_id]) < 1e-6


def _tree_state(root):
    import os as _os

    state = {}
    for dirpath, _dirs, files in _os.walk(root):
        for fn in files:
            if fn.startswith((".", "_")):  # _SUCCESS markers / crc files
                continue
            p = _os.path.join(dirpath, fn)
            st = _os.stat(p)
            state[p] = (st.st_size, st.st_mtime_ns)
    return state


def _exact_bm25(d, terms: list[str]) -> dict:
    """doc_id -> corpus-wide BM25 (rounded like the index route) of
    every document matching a term, computed from the corpus itself."""
    from deeplake_spark.queries.text_ops import bm25_scores

    return {r.doc_id: float(r.bm25) for r in bm25_scores(d, terms)
            .select("doc_id", F.round("bm25", 6).alias("bm25")).collect()}


def test_incremental_index_refresh_on_append(spark, sf_dir):
    """Append-only commit with indexing_mode='automatic' appends a DELTA
    to each registered index (old files byte-identical, untouched) and
    probes see the new rows (IndexingMode, __init__.pyi:2885-2926)."""
    import tempfile

    from deeplake_spark import dataset as dl

    with tempfile.TemporaryDirectory() as d:
        ds = dl.from_parquet(f"{sf_dir}/documents.parquet", d + "/ds", spark)
        ds.create_index("text", "inverted")
        ds.create_index("n_chars", "numeric")
        inv_dir = d + "/ds/_indexes/text_inverted"
        num_dir = d + "/ds/_indexes/n_chars_numeric"
        before = {**_tree_state(inv_dir + "/postings"),
                  **_tree_state(num_dir + "/values")}
        bm25_terms = ["spark", "zzzincrementalterm"]
        bm25_q = ("SELECT doc_id, BM25_SIMILARITY(text, "
                  f"'{' '.join(bm25_terms)}') AS s "
                  "ORDER BY s DESC LIMIT 100000")
        assert {r.doc_id: r.s for r in ds.query(bm25_q).collect()} \
            == _exact_bm25(ds.to_df(), bm25_terms)

        row = ds[0].asDict()
        row.pop("_row_id", None)
        row.update({"doc_id": 999_999, "text": "zzzincrementalterm only here",
                    "n_chars": 28})
        ds.append([row])
        ds.commit("delta append")

        after = {**_tree_state(inv_dir + "/postings"),
                 **_tree_state(num_dir + "/values")}
        for p, sig in before.items():
            assert after.get(p) == sig, f"existing index file rewritten: {p}"
        assert len(after) > len(before), "no delta files appended"

        # probes see the new row through the refreshed indexes
        hit = ds.query("SELECT doc_id WHERE CONTAINS(text, 'zzzincrementalterm')")
        assert [r.doc_id for r in hit.collect()] == [999_999]
        rng = ds.query("SELECT doc_id WHERE n_chars BETWEEN 28 AND 28")
        assert 999_999 in {r.doc_id for r in rng.collect()}

        # BM25 stats merged across deltas: n_docs grew by 1
        from deeplake_spark.operators.indexes import InvertedIndex

        idx = InvertedIndex.load(spark, inv_dir)
        n_docs = idx.stats.head()["n_docs"]
        assert n_docs == ds.to_df().count()
        assert idx.corpus == tuple(idx.stats.head())

        # routed BM25 after the delta scores with the UNION's corpus
        # stats: the (n_docs, avgdl) memoized by the pre-append query
        # must miss once the stats table gained a file
        got = {r.doc_id: r.s for r in ds.query(bm25_q).collect()}
        assert 999_999 in got
        assert got == _exact_bm25(ds.to_df(), bm25_terms)

        # an update commit falls back to a full rebuild (correct, not
        # stale): the patched text is searchable
        ds.update(0, {"text": "qqqpatchedterm appears now"})
        ds.commit("patch")
        hit2 = ds.query("SELECT doc_id WHERE CONTAINS(text, 'qqqpatchedterm')")
        assert hit2.count() == 1


def test_ivf_and_pooled_delta_append(spark, sf_dir, tmp_path):
    """IVF delta: new rows join their nearest EXISTING centroid, old
    assignment files untouched; pooled delta likewise."""
    from deeplake_spark.operators.similarity import (
        IVFIndex,
        build_ivf,
    )

    e = load_table(spark, sf_dir, "embeddings")
    idx_path = str(tmp_path / "ivf")
    build_ivf(e, n_clusters=4, seed=7).save(idx_path)
    idx = IVFIndex.load(spark, idx_path)
    before = _tree_state(idx_path + "/assignments")

    # new row = exact copy of centroid 2 -> must land in cluster 2
    import numpy as np

    c2 = idx.centroids[2][1]
    new = spark.createDataFrame(
        [(10_000_000, [float(x) for x in c2])],
        "vec_id long, embedding array<float>")
    idx.delta(new).save(idx_path, mode="append")

    after = _tree_state(idx_path + "/assignments")
    for p, sig in before.items():
        assert after.get(p) == sig
    assert len(after) > len(before)

    idx2 = IVFIndex.load(spark, idx_path)
    got = idx2.assignments.filter(F.col("vec_id") == 10_000_000).head()
    assert got["cluster"] == 2
    # the persisted corpus size follows the append — a stale undercount
    # would make the range-coverage gate decline pruning as it grows
    assert idx2.n_rows_est == e.count() + 1
    # the probe path surfaces the new row for a query at that centroid
    from deeplake_spark.operators.similarity import SearchConfig, ivf_search

    hits = ivf_search(idx2, list(c2), k=3, config=SearchConfig.high_accuracy())
    assert 10_000_000 in {r.vec_id for r in hits.collect()}

    # pooled delta: same untouched-files + visible-new-row contract
    from deeplake_spark.operators.similarity import (
        PooledMaxsimIndex,
        build_pooled_maxsim,
    )

    docs = (
        e.limit(64)
        .withColumn("doc_id", (F.col("vec_id") / 8).cast("long"))
        .groupBy("doc_id")
        .agg(F.collect_list("embedding").alias("mat"))
    )
    pp = str(tmp_path / "pooled")
    build_pooled_maxsim(docs, "mat", "doc_id").save(pp)
    pbefore = _tree_state(pp + "/pooled")
    new_doc = spark.createDataFrame(
        [(77_777, [[float(x) for x in c2]])],
        "doc_id long, mat array<array<double>>")
    build_pooled_maxsim(new_doc, "mat", "doc_id").save(pp, mode="append")
    pafter = _tree_state(pp + "/pooled")
    for p, sig in pbefore.items():
        assert pafter.get(p) == sig
    assert len(pafter) > len(pbefore)
    loaded = PooledMaxsimIndex.load(spark, pp, source=docs.unionByName(new_doc))
    assert loaded.pooled.filter(F.col("doc_id") == 77_777).count() == 1
    assert loaded.n_rows_est == docs.count() + 1


def test_quantized_index_roundtrip_and_tql_route(spark, sf_dir, tmp_path):
    """ClusteredQuantized persists (types.pyi:625-632): save/load round
    trip, recall >= 0.7 vs exact, TQL cosine top-k routes through it,
    and delta appends leave old bits files untouched."""
    from deeplake_spark import tql
    from deeplake_spark.operators.similarity import (
        QuantizedIndex,
        SearchConfig,
        build_quantized,
        quantized_index_search,
        topk_cosine,
    )

    e = load_table(spark, sf_dir, "embeddings")
    p = str(tmp_path / "quant")
    build_quantized(e, "embedding", "vec_id").save(p)
    idx = QuantizedIndex.load(spark, p, source=e)

    q = list(e.filter(F.col("vec_id") == 0).select("embedding").head()[0])
    approx = {r.vec_id for r in quantized_index_search(
        idx, q, k=10, config=SearchConfig.high_accuracy()).collect()}
    exact = {r.vec_id for r in topk_cosine(e, "embedding", q, k=10,
                                           id_col="vec_id").collect()}
    assert len(approx & exact) / 10 >= 0.7

    # TQL routing: ORDER BY cosine LIMIT k with the quantized kind
    routed = tql.query(
        "SELECT vec_id, COSINE_SIMILARITY(embedding, ?) AS score "
        "ORDER BY score DESC LIMIT 10",
        default=e, params=[q],
        indexes={"embedding": ("clustered_quantized", idx, "vec_id")},
        search_config=SearchConfig.high_accuracy())
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    got = {r.vec_id for r in routed.collect()}
    assert len(got & exact) / 10 >= 0.7

    # WHERE prefilter stays exact
    filtered = tql.query(
        "SELECT vec_id WHERE label == 3 "
        "ORDER BY COSINE_SIMILARITY(embedding, ?) DESC LIMIT 5",
        default=e, params=[q],
        indexes={"embedding": ("clustered_quantized", idx, "vec_id")},
        search_config=SearchConfig.high_accuracy())
    ids = [r.vec_id for r in filtered.collect()]
    assert 0 < len(ids) <= 5
    labels = {r.label for r in e.filter(F.col("vec_id").isin(ids)).collect()}
    assert labels == {3}

    # delta append: old bits untouched, probe sees the new row
    before = _tree_state(p + "/bits")
    new = spark.createDataFrame([(20_000_000, [float(x) for x in q])],
                                "vec_id long, embedding array<float>")
    build_quantized(new, "embedding", "vec_id").save(p, mode="append")
    after = _tree_state(p + "/bits")
    for f, sig in before.items():
        assert after.get(f) == sig
    assert len(after) > len(before)
    idx2 = QuantizedIndex.load(
        spark, p, source=e.select("vec_id", "embedding").unionByName(new))
    hits = {r.vec_id for r in quantized_index_search(
        idx2, q, k=5, config=SearchConfig.high_accuracy()).collect()}
    assert 20_000_000 in hits


def test_dataset_quantized_index_end_to_end(spark, sf_dir):
    """ds.create_index(col, 'clustered_quantized') -> ds.query routes
    TQL cosine top-k through the stored bits; ds.search uses it too."""
    import tempfile

    from deeplake_spark import dataset as dl

    with tempfile.TemporaryDirectory() as d:
        es = dl.from_parquet(f"{sf_dir}/embeddings.parquet", d + "/emb", spark)
        es.create_index("embedding", "clustered_quantized")
        q = [0.0] * 64
        out = es.query(
            "SELECT _row_id, COSINE_SIMILARITY(embedding, ?) AS score "
            "ORDER BY score DESC LIMIT 5", params=[q])
        assert 0 < out.count() <= 5
        hits = es.search("embedding", q, k=5)
        assert 0 < hits.count() <= 5


def test_pq_index_roundtrip_and_tql_route(spark, sf_dir, tmp_path):
    """Product-quantized index (extends the stored quantized family,
    types.pyi:625-632; Jégou et al. 2011): save/load round trip,
    rerank recall >= 0.7 vs exact, TQL cosine top-k routes through it,
    delta appends leave old code files untouched, and the probe plan
    scans the codes table — never the vector column."""
    from deeplake_spark import tql
    from deeplake_spark.operators.similarity import (
        PQIndex,
        SearchConfig,
        build_pq,
        pq_search,
        topk_cosine,
    )

    e = load_table(spark, sf_dir, "embeddings")
    p = str(tmp_path / "pq")
    build_pq(e, "embedding", "vec_id", m=8, nbits=4, seed=42).save(p)
    idx = PQIndex.load(spark, p, source=e)
    assert len(idx.codebooks) == 8 and len(idx.codebooks[0]) == 16

    # codes are valid and complete
    n = e.count()
    assert idx.codes.count() == n
    bad = idx.codes.filter(
        (F.size("code") != 8)
        | F.exists("code", lambda c: (c < 0) | (c > 15))).count()
    assert bad == 0

    q = list(e.filter(F.col("vec_id") == 0).select("embedding").head()[0])
    exact = {r.vec_id for r in topk_cosine(e, "embedding", q, k=10,
                                           id_col="vec_id").collect()}
    approx = {r.vec_id for r in pq_search(
        idx, q, k=10, config=SearchConfig.high_accuracy()).collect()}
    assert len(approx & exact) / 10 >= 0.7

    # TQL routing through the pq kind
    routed = tql.query(
        "SELECT vec_id, COSINE_SIMILARITY(embedding, ?) AS score "
        "ORDER BY score DESC LIMIT 10",
        default=e, params=[q],
        indexes={"embedding": ("pq", idx, "vec_id")},
        search_config=SearchConfig.high_accuracy())
    got = {r.vec_id for r in routed.collect()}
    assert len(got & exact) / 10 >= 0.7

    # WHERE prefilter stays exact
    filtered = tql.query(
        "SELECT vec_id WHERE label == 3 "
        "ORDER BY COSINE_SIMILARITY(embedding, ?) DESC LIMIT 5",
        default=e, params=[q],
        indexes={"embedding": ("pq", idx, "vec_id")},
        search_config=SearchConfig.high_accuracy())
    ids = [r.vec_id for r in filtered.collect()]
    assert 0 < len(ids) <= 5
    labels = {r.label for r in e.filter(F.col("vec_id").isin(ids)).collect()}
    assert labels == {3}

    # delta append with the EXISTING codebooks: old files untouched
    before = _tree_state(p + "/codes")
    new = spark.createDataFrame([(20_000_000, [float(x) for x in q])],
                                "vec_id long, embedding array<float>")
    idx.delta(new).save(p, mode="append")
    after = _tree_state(p + "/codes")
    for f, sig in before.items():
        assert after.get(f) == sig
    assert len(after) > len(before)
    idx2 = PQIndex.load(spark, p,
                   source=e.select("vec_id", "embedding").unionByName(new))
    hits = {r.vec_id for r in pq_search(
        idx2, q, k=10, config=SearchConfig.high_accuracy()).collect()}
    assert 20_000_000 in hits  # identical vector must rank top

    # the candidate stage reads codes only (narrow scan), vectors appear
    # solely in the rerank join against the live relation
    cand_plan = (idx.codes.limit(1))._jdf.queryExecution().executedPlan().toString()
    assert "embedding" not in cand_plan


def test_ivf_pq_cluster_prune(spark, sf_dir, tmp_path):
    """IVF-PQ: codes persist PARTITIONED BY the coarse cluster; a probe
    reads only the nprobe nearest cluster directories (partition
    pruning fires on the codes scan) and still recalls >= 0.7 after
    the exact rerank; delta appends route new rows to their coarse
    cluster without touching existing files."""
    from deeplake_spark.operators.similarity import (
        PQIndex,
        SearchConfig,
        build_pq,
        pq_search,
        topk_cosine,
    )

    e = load_table(spark, sf_dir, "embeddings")
    p = str(tmp_path / "ivfpq")
    build_pq(e, "embedding", "vec_id", m=8, nbits=4, seed=42,
             n_clusters=4).save(p)
    idx = PQIndex.load(spark, p, source=e)
    assert idx.centroids is not None and len(idx.centroids) == 4
    import os

    assert any(d.startswith("cluster=") for d in os.listdir(p + "/codes"))

    q = list(e.filter(F.col("vec_id") == 0).select("embedding").head()[0])
    res = pq_search(idx, q, k=10, config=SearchConfig.high_accuracy())
    exact = {r.vec_id for r in topk_cosine(e, "embedding", q, k=10,
                                           id_col="vec_id").collect()}
    assert len({r.vec_id for r in res.collect()} & exact) / 10 >= 0.7

    # with a selective config the cluster filter must reach the scan as
    # a partition filter (pruned directories, not a post-scan filter)
    sel = pq_search(idx, q, k=5, config=SearchConfig.fast())
    plan = sel._jdf.queryExecution().executedPlan().toString()
    # the plan holds several scans (source rerank + codes); the codes
    # scan must carry the cluster prune as a PARTITION filter
    import re as _re

    pfs = _re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert any("cluster" in pf for pf in pfs), pfs

    # delta append lands in the new row's coarse cluster partition
    before = _tree_state(p + "/codes")
    new = spark.createDataFrame([(30_000_000, [float(x) for x in q])],
                                "vec_id long, embedding array<float>")
    idx.delta(new).save(p, mode="append")
    after = _tree_state(p + "/codes")
    for f, sig in before.items():
        assert after.get(f) == sig
    assert len(after) > len(before)
    idx2 = PQIndex.load(spark, p,
                   source=e.select("vec_id", "embedding").unionByName(new))
    hits = {r.vec_id for r in pq_search(
        idx2, q, k=10, config=SearchConfig.high_accuracy()).collect()}
    assert 30_000_000 in hits


def test_tql_l2_distance_routing(spark, sf_dir, round_trip):
    """`ORDER BY L2_NORM(col - <vec>) ASC LIMIT k` (the tql.md Array
    Operations pattern, incl. the DATA(col, i) form) routes through the
    clustered index with an L2 rerank; recall >= 0.7 vs the exact
    distance top-k, and WHERE prefilters stay exact."""
    from deeplake_spark import tql
    from deeplake_spark.operators.similarity import (
        SearchConfig,
        build_ivf,
        topk_l2,
    )

    e = load_table(spark, sf_dir, "embeddings")
    idx = round_trip(build_ivf(e, n_clusters=8, seed=42))
    q = list(e.filter(F.col("vec_id") == 10).select("embedding").head()[0])
    exact = [r.vec_id for r in topk_l2(e, "embedding", q, k=10,
                                       id_col="vec_id").collect()]

    routed = tql.query(
        "SELECT vec_id, L2_NORM(embedding - ?) AS dist "
        "ORDER BY dist ASC LIMIT 10",
        default=e, params=[q],
        indexes={"embedding": ("clustered", idx, "vec_id")},
        search_config=SearchConfig.high_accuracy())
    got = [r.vec_id for r in routed.collect()]
    assert len(set(got) & set(exact)) / 10 >= 0.7
    assert got[0] == 10  # the query vector's own row is distance 0

    # DATA(col, i) as the query side routes too (the tql.md example
    # shape: SELECT * ORDER BY L2_NORM(embedding - data(embedding, 10)))
    via_data = tql.query(
        "SELECT * ORDER BY L2_NORM(embedding - DATA(embedding, 10)) "
        "LIMIT 5",
        default=e,
        indexes={"embedding": ("clustered", idx, "vec_id")},
        search_config=SearchConfig.high_accuracy())
    assert [r.vec_id for r in via_data.collect()][0] == 10

    # WHERE prefilter stays exact
    filtered = tql.query(
        "SELECT vec_id WHERE label == 3 "
        "ORDER BY L2_NORM(embedding - ?) ASC LIMIT 5",
        default=e, params=[q],
        indexes={"embedding": ("clustered", idx, "vec_id")},
        search_config=SearchConfig.high_accuracy())
    ids = [r.vec_id for r in filtered.collect()]
    assert 0 < len(ids) <= 5
    labels = {r.label for r in e.filter(F.col("vec_id").isin(ids)).collect()}
    assert labels == {3}


def test_pq_l2_metric_and_route(spark, sf_dir, tmp_path):
    """pq_search(metric=l2) ranks by the ADC distance (anorm - 2*dot)
    and reranks by exact L2; the TQL L2 distance pattern routes through
    a registered pq index too."""
    from deeplake_spark import tql
    from deeplake_spark.operators.similarity import (
        PQIndex,
        SearchConfig,
        build_pq,
        pq_search,
        topk_l2,
    )

    e = load_table(spark, sf_dir, "embeddings")
    p = str(tmp_path / "pq")
    build_pq(e, "embedding", "vec_id", m=8, nbits=4, seed=42).save(p)
    idx = PQIndex.load(spark, p, source=e)
    q = list(e.filter(F.col("vec_id") == 10).select("embedding").head()[0])
    exact = [r.vec_id for r in topk_l2(e, "embedding", q, k=10,
                                       id_col="vec_id").collect()]
    approx = [r.vec_id for r in pq_search(
        idx, q, k=10, config=SearchConfig.high_accuracy(),
        metric="l2").collect()]
    assert len(set(approx) & set(exact)) / 10 >= 0.7
    assert approx[0] == 10  # own row at distance 0

    routed = tql.query(
        "SELECT vec_id, L2_NORM(embedding - ?) AS dist "
        "ORDER BY dist ASC LIMIT 10",
        default=e, params=[q],
        indexes={"embedding": ("pq", idx, "vec_id")},
        search_config=SearchConfig.high_accuracy())
    got = [r.vec_id for r in routed.collect()]
    assert got[0] == 10 and len(set(got) & set(exact)) / 10 >= 0.7


def test_index_build_config_scales_effort(spark, sf_dir, round_trip):
    """IndexBuildConfig is functional, not decorative: build_multiplier
    scales the k-means refinement passes and the PQ training sample,
    and a fast()-built index still searches correctly."""
    import deeplake_spark as dl
    from deeplake_spark.io import load_table
    from deeplake_spark.operators.similarity import (
        build_ivf,
        build_pq,
        ivf_search,
        pq_search,
    )

    e = load_table(spark, sf_dir, "embeddings")
    q = [float(v) for v in e.head()["embedding"]]

    fast = dl.IndexBuildConfig.fast()
    hi = dl.IndexBuildConfig.high_quality()
    assert fast.build_multiplier == 0.5 and hi.build_multiplier == 2.0
    assert dl.IndexBuildConfig.default_config() == dl.IndexBuildConfig(1.0)

    idx = round_trip(build_ivf(e, n_clusters=4, max_iter=4, config=fast))
    got = ivf_search(idx, q, k=3)
    assert got.count() == 3  # fast build still serves probes

    pq = round_trip(build_pq(e, m=8, nbits=4, train_limit=400, config=fast))
    assert pq_search(pq, q, k=3).count() == 3
    # fast() halves the sample; the floor keeps it >= ksub
    assert len(pq.codebooks) == 8 and len(pq.codebooks[0]) == 16


def test_ivf_search_batch_recall_and_single_query_consistency(spark, sf_dir,
                                                             round_trip):
    """Batched IVF kNN: one pruned corpus pass for the whole query set.
    Per-query results must match the single-query ivf_search exactly
    (same index, same nprobe), and recall vs brute force stays high."""
    from pyspark.sql import functions as F

    from deeplake_spark.io import load_table
    from deeplake_spark.operators.similarity import (
        SearchConfig,
        build_ivf,
        ivf_search,
        ivf_search_batch,
        knn_batch,
    )

    e = load_table(spark, sf_dir, "embeddings")
    idx = round_trip(build_ivf(e, n_clusters=8))
    cfg = SearchConfig(accuracy_factor=10, nprobe=4)

    queries = (e.filter(F.col("vec_id") < 6)
               .select(F.col("vec_id").alias("qid"),
                       F.col("embedding").alias("qv")))
    got = ivf_search_batch(idx, queries, k=5, config=cfg)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r.qid, []).append((r.vec_id, r.score))

    assert set(by_q) == set(range(6))
    for qid, hits in by_q.items():
        assert len(hits) == 5
        qv = [float(v) for v in e.filter(F.col("vec_id") == qid)
              .head()["embedding"]]
        single = [(r.vec_id, r.score)
                  for r in ivf_search(idx, qv, k=5, config=cfg).collect()]
        assert sorted(hits) == sorted(single)   # batch == single-query path

    # recall vs brute force over the same queries (self-hit included in
    # both, so exact-match sets compare fairly)
    brute = knn_batch(e, queries, k=5)
    brute_sets = {}
    for r in brute.collect():
        brute_sets.setdefault(r.qid, set()).add(r.vec_id)
    hits_total = sum(
        len({v for v, _ in by_q[q]} & brute_sets[q]) for q in brute_sets)
    assert hits_total / (5 * len(brute_sets)) >= 0.8


def test_ivf_search_batch_broadcast_autogate(spark, sf_dir, round_trip):
    """r14 verdict #3: with broadcast_queries unset, the routed-join
    strategy derives from a plan-time size bound vs the session's
    autoBroadcastJoinThreshold — a query BATCH broadcasts
    (BroadcastHashJoin), a relation whose routed estimate exceeds the
    threshold falls to the shuffle join, and an explicit True still
    overrides the gate. The corpus-sized caller is safe by
    construction, not by knowing the knob."""
    from pyspark.sql import functions as F

    from deeplake_spark.io import load_table
    from deeplake_spark.operators.similarity import (
        SearchConfig, build_ivf, ivf_search_batch)

    e = load_table(spark, sf_dir, "embeddings")
    idx = round_trip(build_ivf(e, n_clusters=8))
    cfg = SearchConfig(nprobe=4)
    queries = (e.filter(F.col("vec_id") < 6)
               .select(F.col("vec_id").alias("qid"),
                       F.col("embedding").alias("qv")))

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    # small batch, stock threshold: broadcast regime
    p = plan(ivf_search_batch(idx, queries, k=3, config=cfg))
    assert "BroadcastHashJoin" in p, p[:2000]

    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        # tiny threshold: the same queries now exceed the bound and
        # the join flips to the shuffle side — no knob passed
        spark.conf.set(key, "64")
        p = plan(ivf_search_batch(idx, queries, k=3, config=cfg))
        assert "BroadcastHashJoin" not in p, p[:2000]
        assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p), p[:2000]
        # explicit pin overrides the gate
        p = plan(ivf_search_batch(idx, queries, k=3, config=cfg,
                                  broadcast_queries=True))
        assert "BroadcastHashJoin" in p, p[:2000]
    finally:
        spark.conf.set(key, old)


def test_ann_recall_monotone_across_presets(spark, sf_dir, round_trip):
    """Reference knob semantics (cpp/query_core/search_config.hpp:31-96;
    quality-test style py_tests/test_embedding_quality.py): raising the
    SearchConfig preset fast -> balanced -> default -> high_accuracy
    must never LOWER recall, for every ANN index family. Guaranteed by
    construction here — each preset's candidate set is a superset of
    the previous one's (nprobe picks the top-n nearest centroids,
    accuracy_factor widens a deterministically-ordered rerank prefix) —
    and this test pins that property stays true."""
    from deeplake_spark.operators.similarity import (
        SearchConfig,
        build_ivf,
        build_pq,
        build_quantized,
        ivf_search,
        pq_search,
        quantized_index_search,
        topk_cosine,
    )

    presets = [SearchConfig.fast(), SearchConfig.balanced(),
               SearchConfig(), SearchConfig.high_accuracy()]
    e = load_table(spark, sf_dir, "embeddings").cache()
    qids = [0, 7, 19, 31]
    queries = {r.vec_id: list(r.embedding)
               for r in e.filter(F.col("vec_id").isin(qids)).collect()}
    exact = {qid: [r.vec_id for r in
                   topk_cosine(e, "embedding", q, k=10, id_col="vec_id")
                   .collect()]
             for qid, q in queries.items()}

    ivf = round_trip(build_ivf(e, n_clusters=8, seed=42))
    quant = round_trip(build_quantized(e, "embedding", "vec_id"))
    pq = round_trip(build_pq(e, "embedding", "vec_id", m=8, nbits=4, seed=42))

    searchers = {
        "ivf": lambda q, c: ivf_search(ivf, q, k=10, config=c),
        "quantized": lambda q, c: quantized_index_search(
            quant, q, k=10, config=c),
        "pq": lambda q, c: pq_search(pq, q, k=10, config=c),
    }
    floors = {"ivf": 0.9, "quantized": 0.7, "pq": 0.7}
    for kind, search in searchers.items():
        curve = []
        for cfg in presets:
            hits = 0
            for qid, q in queries.items():
                got = {r.vec_id for r in search(q, cfg).collect()}
                hits += len(got & set(exact[qid]))
            curve.append(hits / (10 * len(queries)))
        for lo, hi in zip(curve, curve[1:]):
            assert hi >= lo - 1e-9, f"{kind} recall regressed: {curve}"
        assert curve[-1] >= floors[kind], f"{kind} high_accuracy {curve}"
        assert curve[-1] >= curve[0], f"{kind} flat-at-zero curve {curve}"


def test_maxsim_recall_monotone_across_presets(spark, sf_dir, round_trip):
    """Same preset-monotonicity contract for the pooled MAXSIM index
    (the prefilter width is k*accuracy_factor, so candidate prefixes
    are nested across presets)."""
    from deeplake_spark.functions.vector import maxsim_pandas
    from deeplake_spark.operators.similarity import (
        SearchConfig,
        build_pooled_maxsim,
        maxsim_search,
    )

    e = load_table(spark, sf_dir, "embeddings")
    docs = (
        e.withColumn("doc_id", (F.col("vec_id") / 8).cast("long"))
        .groupBy("doc_id")
        .agg(F.transform(
            F.array_sort(F.collect_list(
                F.struct(F.col("vec_id"), F.col("embedding")))),
            lambda s: s["embedding"]).alias("mat"))
    ).cache()
    qm = [list(r.embedding)
          for r in e.filter(F.col("vec_id") < 3).orderBy("vec_id").collect()]
    idx = round_trip(build_pooled_maxsim(docs, "mat", "doc_id"))

    maxsim = maxsim_pandas()
    qm_lit = F.array(*[F.array(*[F.lit(float(v)) for v in row]) for row in qm])
    exact = [r.doc_id for r in
             docs.select("doc_id",
                         F.round(maxsim(F.col("mat"), qm_lit), 6).alias("s"))
             .orderBy(F.desc("s"), "doc_id").limit(5).collect()]

    curve = []
    for cfg in [SearchConfig.fast(), SearchConfig.balanced(),
                SearchConfig(), SearchConfig.high_accuracy()]:
        got = {r.doc_id for r in maxsim_search(idx, qm, k=5, config=cfg)
               .collect()}
        curve.append(len(got & set(exact)) / 5)
    for lo, hi in zip(curve, curve[1:]):
        assert hi >= lo - 1e-9, f"maxsim recall regressed: {curve}"
    assert curve[-1] >= 0.8, f"maxsim high_accuracy {curve}"


def test_inverted_probe_prunes_term_buckets(spark, sf_dir, tmp_path):
    """A loaded inverted index probe must READ only the probed terms'
    hash-bucket partitions (PartitionFilters on `bucket`), not all 64 —
    at 100 TB the posting table is the big relation and this prune is
    the difference between O(matching postings) and a full index scan."""
    import re as _re

    from deeplake_spark.operators.indexes import (
        InvertedIndex,
        build_inverted_index,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    p = str(tmp_path / "inv")
    build_inverted_index(docs).save(p)
    idx = InvertedIndex.load(spark, p)

    probe = idx.probe(["spark"])
    plan = probe._jdf.queryExecution().executedPlan().toString()
    m = _re.search(r"PartitionFilters: \[([^\]]*bucket[^\]]*)\]", plan)
    assert m, f"no bucket partition filter:\n{plan[:1200]}"

    # pruning must not change results: same rows as the unpruned scan
    want = {r.doc_id for r in docs.filter(
        F.array_contains(F.split(F.lower("text"), r"\s+"), "spark"))
        .collect()}
    assert {r.row_id for r in probe.collect()} == want and want


def test_corrupt_manifest_raises(spark, tmp_path):
    """A side table's stats live in its manifest, and a manifest lands
    whole (one atomic put) or not at all: an unreadable newest manifest
    is damage, not a half-written sidecar, so loading raises instead
    of serving the index stats-less."""
    import json
    import os

    from deeplake_spark.operators.indexes import InvertedIndex, NumericIndex

    df = spark.createDataFrame(
        [(i, "common filler", float(i)) for i in range(20)],
        "doc_id long, text string, v double")
    ip, np_ = str(tmp_path / "inv"), str(tmp_path / "num")
    build_inverted_index(df, "text", "doc_id").save(ip)
    build_numeric_index(df, "v", id_col="doc_id").save(np_)
    for path, cls in ((ip, InvertedIndex), (np_, NumericIndex)):
        assert cls.load(spark, path) is not None
        with open(os.path.join(path, "_log", "00000001.json"), "w") as f:
            f.write("{not json")
        with pytest.raises(json.JSONDecodeError):
            cls.load(spark, path)


def test_termstats_merge_recaps_heavy_map(spark, tmp_path, monkeypatch):
    """Delta appends with rotating heavy vocabularies must not grow the
    termstats sidecar unboundedly: the merged map re-caps to
    _HEAVY_CAP top-by-df and raises the floor over the dropped terms
    (the absent-term upper bound stays sound)."""
    import deeplake_spark.operators.indexes as ix

    monkeypatch.setattr(ix, "_HEAVY_CAP", 4)
    base = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(8)],
        "doc_id long, text string")
    p = str(tmp_path / "inv")
    build_inverted_index(base, "text", "doc_id").save(p)
    delta = spark.createDataFrame(
        [(100 + i, "epsilon zeta eta theta") for i in range(8)],
        "doc_id long, text string")
    build_inverted_index(delta, "text", "doc_id").save(p, mode="append")
    from deeplake_spark import memo

    ts = memo.manifest(p)[1]["meta"]
    assert len(ts["heavy"]) <= 4
    assert ts["n_docs"] == 16
    # every dropped term had df <= min(kept df) <= floor * n
    assert ts["floor_frac"] * ts["n_docs"] >= min(ts["heavy"].values())
    merged = ix.InvertedIndex.load(spark, p)
    for term in ("alpha", "epsilon", "theta"):
        est = merged.est_selectivity(term)
        assert est is not None and est <= ts["floor_frac"] + 1e-9 or est == 0.5


def test_termstats_merge_counts_subfloor_delta_df(spark, tmp_path,
                                                  monkeypatch):
    """A term heavy in the OLD map whose df in the delta falls below
    the DELTA's own heavy floor must still contribute that delta df to
    the merged estimate — otherwise each append under-counts by up to
    floor*n_delta and a term hovering at the gate threshold keeps
    routing after many appends (round-8 ADVICE)."""
    import deeplake_spark.operators.indexes as ix

    monkeypatch.setattr(ix, "_HEAVY_FRAC", 0.5)
    base = spark.createDataFrame(
        [(i, "hot filler") for i in range(4)], "doc_id long, text string")
    p = str(tmp_path / "inv")
    build_inverted_index(base, "text", "doc_id").save(p)

    # delta: 'hot' in 1 of 4 docs — below the delta floor ceil(0.5*4)=2
    delta = spark.createDataFrame(
        [(100, "hot other"), (101, "cold other"),
         (102, "cold other"), (103, "cold other")],
        "doc_id long, text string")
    build_inverted_index(delta, "text", "doc_id").save(p, mode="append")

    merged = ix.InvertedIndex.load(spark, p)
    # exact merged df: 4 (base) + 1 (sub-floor delta) over 8 docs
    assert merged.est_selectivity("hot") == pytest.approx(5 / 8)


def test_termstats_merge_exact_past_heavy_cap_cut(spark, tmp_path,
                                                  monkeypatch):
    """An old-heavy term's sub-floor delta df must merge EXACTLY even
    when the delta has more heavy keys of its own than the _HEAVY_CAP
    top-by-df cut keeps: the cut must never truncate the old keys'
    contributions (they're fetched by a separate bounded lookup, not
    the capped top-df collect)."""
    import deeplake_spark.operators.indexes as ix

    monkeypatch.setattr(ix, "_HEAVY_FRAC", 0.5)
    monkeypatch.setattr(ix, "_HEAVY_CAP", 2)
    base = spark.createDataFrame(
        [(i, "hot filler") for i in range(4)], "doc_id long, text string")
    p = str(tmp_path / "inv")
    build_inverted_index(base, "text", "doc_id").save(p)
    # delta: 3 terms at df >= thr(2) outrank 'hot' (df 1, sub-floor) in
    # a top-by-df ordering, so a single capped collect would cut it
    delta = spark.createDataFrame(
        [(100, "aaa bbb ccc hot"), (101, "aaa bbb ccc"),
         (102, "aaa bbb"), (103, "mmm")],
        "doc_id long, text string")
    build_inverted_index(delta, "text", "doc_id").save(p, mode="append")
    merged = ix.InvertedIndex.load(spark, p)
    # exact: 4 (base) + 1 (sub-floor, below the cap cut) over 8 docs
    assert merged.est_selectivity("hot") == pytest.approx(5 / 8)


# ------------------------------------------- probe → row-group pruning


def test_coalesce_id_ranges_merges_and_bounds():
    """Unit contract of the bitmap→range conversion: overlapping and
    adjacent ranges merge; past max_ranges the LARGEST gaps survive as
    splits (minimal extra id-space admitted); order is canonical."""
    from deeplake_spark.operators.indexes import coalesce_id_ranges

    assert coalesce_id_ranges([], 8) == []
    # adjacency (hi+1 == lo) merges; true gaps stay
    assert coalesce_id_ranges([(0, 4), (5, 9), (20, 25)], 8) == \
        [(0, 9), (20, 25)]
    assert coalesce_id_ranges([(20, 25), (0, 4), (3, 9)], 8) == \
        [(0, 9), (20, 25)]
    # 4 islands, max 2: the single biggest gap (100..999) splits;
    # smaller gaps merge across
    got = coalesce_id_ranges([(0, 9), (30, 39), (70, 79), (1000, 1009)], 2)
    assert got == [(0, 79), (1000, 1009)]
    # bound respected for any max
    many = [(i * 100, i * 100 + 5) for i in range(50)]
    for mr in (1, 3, 7, 50):
        out = coalesce_id_ranges(list(many), mr)
        assert len(out) <= mr
        # soundness: every input id is inside some output range
        for lo, hi in many:
            assert any(o_lo <= lo and hi <= o_hi for o_lo, o_hi in out)


def pushed_ranges(df, col: str) -> list[tuple[int, int]]:
    """The literal (lo, hi) ranges pushed as filters on `col`, read from
    the optimized plan (physical plan strings truncate long filters)."""
    return sorted({(int(lo), int(hi)) for lo, hi in re.findall(
        rf"\({col}#\d+L? >= (-?\d+)\) AND \({col}#\d+L? <= (-?\d+)\)",
        df._jdf.queryExecution().optimizedPlan().toString())})


@pytest.fixture()
def clustered_docs(spark, tmp_path):
    """200k docs with ids i * 8, so they spread over 25 RANGE_GRANULE
    blocks; id-sorted multi-row-group layout. 'xclust' marks one
    contiguous 5% id slice (a crawl batch, granules 6 and 7), 'sparse'
    hits every 20th doc uniformly (same 5% selectivity, zero
    locality)."""
    from pyspark.sql import functions as F

    from deeplake_spark.operators.indexes import (
        InvertedIndex,
        build_inverted_index,
    )

    docs = (spark.range(200_000)
            .select((F.col("id") * 8).alias("doc_id"), F.concat(
                F.lit("alpha beta gamma"),
                F.when((F.col("id") >= 50_000) & (F.col("id") < 60_000),
                       F.lit(" xclust")).otherwise(F.lit("")),
                F.when(F.col("id") % 20 == 0,
                       F.lit(" sparse")).otherwise(F.lit("")),
            ).alias("text")))
    path = str(tmp_path / "cdocs.parquet")
    (docs.repartitionByRange(8, "doc_id").sortWithinPartitions("doc_id")
     .write.option("parquet.block.size", 256 * 1024).parquet(path))
    d = spark.read.parquet(path)
    ip = str(tmp_path / "cidx")
    build_inverted_index(d, "text", "doc_id").save(ip)
    return d, InvertedIndex.load(spark, ip), path, ip


def test_contains_route_pushes_probe_ranges_to_scan(spark, clustered_docs,
                                                    monkeypatch):
    """The routed CONTAINS plan carries the probe's row-id ranges as
    PUSHED literal filters on the corpus scan (parquet min/max then
    skips the row groups outside them — the reference's roaring-bitmap
    chunk reads, icm/roaring.hpp + index_holder.hpp:37-40), and the
    rows stay identical to stock."""
    from pyspark.sql import functions as F

    from deeplake_spark import tql

    d, idx, _, _ = clustered_docs
    q = "SELECT doc_id WHERE CONTAINS(text, 'xclust')"
    routed = tql.query(q, default=d, indexes={"text": ("inverted", idx, "doc_id")})
    # one range per granule the slice touches (6 and 7)
    assert pushed_ranges(routed, "doc_id") == \
        [(400_000, 458_744), (458_752, 479_992)]
    phys = routed._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThanOrEqual(doc_id,400000)" in phys, phys[:2000]
    stock = sorted(
        r.doc_id for r in d.filter(F.array_contains(
            F.split(F.lower("text"), r"\s+"), "xclust")).collect())
    assert sorted(r.doc_id for r in routed.collect()) == stock


def test_contains_route_skips_ranges_when_coverage_high(spark,
                                                        clustered_docs):
    """A selective-but-UNIFORM term's granule ranges span ~the whole
    corpus — nothing for parquet stats to skip, so the coverage gate
    keeps the per-row OR predicate out of the plan (semijoin only)."""
    from deeplake_spark import tql

    d, idx, _, _ = clustered_docs
    q = "SELECT doc_id WHERE CONTAINS(text, 'sparse')"
    routed = tql.query(q, default=d, indexes={"text": ("inverted", idx, "doc_id")})
    phys = routed._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThanOrEqual(doc_id" not in phys
    assert routed.count() == 10_000


def test_unsaved_build_is_refused_by_tql_and_probes(spark, round_trip):
    """Indexes are probed only after a save and a load (the reference
    builds at ingest and probes what it persisted): an unsaved build
    handed to tql.query(indexes=) or to a probe function raises one
    ValueError naming the INDEX_KINDS save/load fix, instead of
    probing the build's corpus lineage. The same builds, saved and
    loaded back, answer."""
    from deeplake_spark import tql
    from deeplake_spark.operators.similarity import build_pq, pq_search

    df = spark.createDataFrame(
        [(i, "alpha beta" + (" rare" if i == 3 else "")) for i in range(30)],
        "doc_id long, text string")
    q = "SELECT doc_id WHERE CONTAINS(text, 'rare')"
    inv = build_inverted_index(df, "text", "doc_id")
    with pytest.raises(ValueError, match="INDEX_KINDS"):
        tql.query(q, default=df, indexes={"text": ("inverted", inv, "doc_id")})

    e = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, float(i % 5), 0.5]) for i in range(40)],
        "vec_id long, embedding array<double>")
    qv = [1.0, 1.0, 0.0, 0.5]
    pq = build_pq(e, "embedding", "vec_id", m=2, nbits=2)
    with pytest.raises(ValueError, match="INDEX_KINDS"):
        pq_search(pq, qv, k=3)

    routed = tql.query(q, default=df, indexes={
        "text": ("inverted", round_trip(inv), "doc_id")})
    assert [r.doc_id for r in routed.collect()] == [3]
    assert pq_search(round_trip(pq), qv, k=3).count() == 3


def test_range_prune_conf_disables(spark, clustered_docs):
    """spark.sql.deeplake.routing.rangePrune=false keeps the round-8
    plain-semijoin shape (kill switch for non-id-sorted layouts)."""
    from deeplake_spark import tql

    d, idx, _, _ = clustered_docs
    spark.conf.set("spark.sql.deeplake.routing.rangePrune", "false")
    try:
        q = "SELECT doc_id WHERE CONTAINS(text, 'xclust')"
        routed = tql.query(q, default=d, indexes={"text": ("inverted", idx, "doc_id")})
        phys = routed._jdf.queryExecution().executedPlan().toString()
        assert "GreaterThanOrEqual(doc_id" not in phys
        assert routed.count() == 10_000
    finally:
        spark.conf.unset("spark.sql.deeplake.routing.rangePrune")


def test_numeric_between_route_pushes_probe_ranges(spark, tmp_path):
    """The BETWEEN route gets the same probe→scan range pruning: value
    correlates with id here (time-ordered ingest — the realistic case),
    so the value probe's ids coalesce into a tight pushed range."""
    from pyspark.sql import functions as F

    from deeplake_spark import tql
    from deeplake_spark.operators.indexes import (
        NumericIndex,
        build_numeric_index,
    )

    # ids i * 8 spread the 100k docs over 13 RANGE_GRANULE blocks
    docs = spark.range(100_000).select(
        (F.col("id") * 8).alias("doc_id"),
        (F.col("id") / 100).cast("double").alias("score"))
    path = str(tmp_path / "ndocs.parquet")
    (docs.repartitionByRange(8, "doc_id").sortWithinPartitions("doc_id")
     .write.option("parquet.block.size", 256 * 1024).parquet(path))
    d = spark.read.parquet(path)
    ip = str(tmp_path / "nidx")
    build_numeric_index(d, "score", id_col="doc_id").save(ip)
    idx = NumericIndex.load(spark, ip)
    q = "SELECT doc_id WHERE score BETWEEN 100.0 AND 149.99"
    routed = tql.query(
        q, default=d, indexes={"score": ("numeric", idx, "doc_id")})
    phys = routed._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThanOrEqual(doc_id,80000)" in phys, phys[:2000]
    assert pushed_ranges(routed, "doc_id") == [(80_000, 119_992)]
    got = sorted(r.doc_id for r in routed.collect())
    assert got == list(range(80_000, 120_000, 8))


def test_ann_rerank_and_fetchback_push_probe_ranges(spark, tmp_path):
    """A LOADED vector index's exact-rerank scan and the TQL top-k
    fetch-back join both carry pushed row-id range filters when the
    winners cluster in id space (content drift: similar vectors were
    ingested together) — the reference applies its bitmap→chunk reads
    to ANN probes too (index_holder.hpp:37-40)."""
    from pyspark.sql import functions as F

    from deeplake_spark import tql
    from deeplake_spark.operators.similarity import (
        PQIndex,
        build_pq,
        topk_cosine,
    )

    # ids i * 16 spread the corpus over 5 RANGE_GRANULE blocks
    n, lo, hi = 20_000, 12_000, 12_100
    e = spark.range(n).select(
        (F.col("id") * 16).alias("vec_id"), F.expr(
            f"CASE WHEN id >= {lo} AND id < {hi} THEN "
            "array(1.0D, 0.01D * (id % 7), 0D, 0D, 0D, 0D, 0D, 0D) "
            "ELSE array(0.01D * (id % 11), 1.0D, 0D, 0D, 0D, 0D, "
            "0D, 0D) END").alias("embedding"))
    path = str(tmp_path / "emb.parquet")
    (e.repartitionByRange(4, "vec_id").sortWithinPartitions("vec_id")
     .write.option("parquet.block.size", 128 * 1024).parquet(path))
    d = spark.read.parquet(path)
    ip = str(tmp_path / "pqidx")
    build_pq(d, "embedding", "vec_id", m=4, nbits=4).save(ip)
    idx = PQIndex.load(spark, ip, source=d)
    assert idx.n_rows_est == n
    q = [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    tql_q = ("SELECT vec_id, COSINE_SIMILARITY(embedding, ?) AS score "
             "ORDER BY score DESC LIMIT 10")
    out = tql.query(tql_q, default=d, params=[q],
                    indexes={"embedding": ("pq", idx, "vec_id")})
    phys = out._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThanOrEqual(vec_id" in phys, phys[:3000]
    got = {r.vec_id for r in out.collect()}
    exact = {r.vec_id for r in topk_cosine(
        d, "embedding", q, k=10, id_col="vec_id").collect()}
    assert got == exact
    assert all(lo * 16 <= v < hi * 16 for v in got)

    # the L2 spelling prunes identically (review follow-up: the
    # lane initially missed the fetch-back conversion)
    out3 = tql.query(
        "SELECT vec_id, L2_NORM(embedding - ?) AS dist "
        "ORDER BY dist ASC LIMIT 10",
        default=d, params=[q],
        indexes={"embedding": ("pq", idx, "vec_id")})
    phys3 = out3._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThanOrEqual(vec_id" in phys3, phys3[:3000]
    assert {r.vec_id for r in out3.collect()} == exact


def test_range_cache_distinguishes_same_shape_probes(spark, tmp_path):
    """Two probes with IDENTICAL plan shape over DIFFERENT datasets
    must not share a range-memo entry — a collision serves one probe's
    ranges to the other, and the pushed filter then excludes true
    candidate rows (wrong results, caught live: canonicalized plan
    strings print relations WITHOUT their paths, so the memo key must
    also pin the scanned files)."""
    from deeplake_spark.operators.indexes import (
        granule_bounds,
        routed_scan_ranges,
    )

    for tag, lo in (("a", 0), ("b", 5_000)):
        (spark.range(lo, lo + 100).withColumnRenamed("id", "row_id")
         .coalesce(1).write.parquet(str(tmp_path / f"ids_{tag}.parquet")))
    ra = routed_scan_ranges(granule_bounds(
        spark.read.parquet(str(tmp_path / "ids_a.parquet"))), None)
    rb = routed_scan_ranges(granule_bounds(
        spark.read.parquet(str(tmp_path / "ids_b.parquet"))), None)
    assert ra == [(0, 99)]
    assert rb == [(5_000, 5_099)]


def test_range_prune_conf_polarity(spark):
    """The kill switch parses identically in both lanes — enabled iff
    'true' case-insensitively, so 'False'/'0'/'off' disable here just
    as they do in the JVM rule's equalsIgnoreCase('true'). Ranges
    computed from ids already on the driver (a top-k's collected hits)
    pass the same gates and equal the summary job's, also when more
    than MAX_RANGES granules merge across their smallest gaps."""
    from deeplake_spark.operators.indexes import (
        MAX_RANGES,
        RANGE_GRANULE,
        RANGE_PRUNE_KEY,
        collected_id_ranges,
        granule_bounds,
        routed_scan_ranges,
    )

    ids = granule_bounds(spark.range(50).withColumnRenamed("id", "row_id"))
    try:
        for v in ("False", "0", "off", "false"):
            spark.conf.set(RANGE_PRUNE_KEY, v)
            assert routed_scan_ranges(ids, None) is None, v
            assert collected_id_ranges(spark, list(range(50)), None) \
                is None, v
        spark.conf.set(RANGE_PRUNE_KEY, "TRUE")
        assert routed_scan_ranges(ids, None) == [(0, 49)]
        assert collected_id_ranges(spark, list(range(50)), None) == \
            [(0, 49)]
        # 70 granules, each hit twice; granule g's hits widen with g,
        # so the gaps shrink and the merge has one answer
        hits = [i for g in range(70)
                for i in (g * RANGE_GRANULE + 3,
                          g * RANGE_GRANULE + 3 + 10 * g)]
        probe = granule_bounds(spark.createDataFrame(
            [(i,) for i in reversed(hits)], "row_id long"))
        for n in (None, 10 ** 9, 50):  # the last: covered >= 0.8 * n
            want = routed_scan_ranges(probe, n)
            assert collected_id_ranges(spark, hits, n) == want, n
        assert want is None
        got = routed_scan_ranges(probe, None)
        # the 6 smallest gaps (between the widest granules) merge
        assert len(got) == MAX_RANGES
        assert got[-1] == (63 * RANGE_GRANULE + 3, hits[-1])
        assert got[:63] == [(hits[2 * g], hits[2 * g + 1])
                            for g in range(63)]
    finally:
        spark.conf.unset(RANGE_PRUNE_KEY)


def test_exact_and_json_routes_coverage_gate_uniform_ranges(spark, tmp_path):
    """The exact-digest and JSON path-value routes pass the corpus size
    to the range-coverage gate: a selective-but-UNIFORM value's granule
    ranges span ~the whole corpus, so no per-row BETWEEN-OR predicate
    is pushed (semijoin only) — the same economics the CONTAINS lane
    gets from its termstats n."""
    from pyspark.sql import functions as F

    from deeplake_spark import tql
    from deeplake_spark.operators.indexes import (
        ExactTextIndex,
        JsonIndex,
        build_exact_index,
        build_json_index,
    )

    # ids i * 16 spread the corpus over 3 RANGE_GRANULE blocks
    n = 12_000
    src = (spark.range(n)
           .withColumn("lang", F.when(F.col("id") % 12 == 0, F.lit("xx"))
                       .otherwise(F.concat(
                           F.lit("u"), (F.col("id") % 97).cast("string"))))
           .withColumn("meta", F.when(F.col("id") % 12 == 0,
                                      F.lit('{"type": "like"}'))
                       .otherwise(F.lit('{"type": "post"}')))
           .withColumn("doc_id", F.col("id") * 16).drop("id"))
    path = str(tmp_path / "docs.parquet")
    (src.repartitionByRange(4, "doc_id").sortWithinPartitions("doc_id")
     .write.parquet(path))
    docs = spark.read.parquet(path)
    ep, jp = str(tmp_path / "ex"), str(tmp_path / "js")
    build_exact_index(docs, "lang", id_col="doc_id").save(ep)
    build_json_index(docs, "meta", ["type"], id_col="doc_id").save(jp)
    eidx = ExactTextIndex.load(spark, ep)
    jidx = JsonIndex.load(spark, jp)
    assert eidx.n_rows_est == n and jidx.n_rows_est == n
    for q, idxmap in (
        ("SELECT doc_id WHERE EQUALS(lang, 'xx')",
         {"lang": ("exact", eidx, "doc_id")}),
        ("SELECT doc_id WHERE meta['type'] == 'like'",
         {"meta": ("json", jidx, "doc_id")}),
    ):
        routed = tql.query(q, default=docs, indexes=idxmap)
        phys = routed._jdf.queryExecution().executedPlan().toString()
        assert "LeftSemi" in phys, q
        assert "GreaterThanOrEqual(doc_id" not in phys, phys[:2000]
        assert sorted(r.doc_id for r in routed.collect()) == \
            list(range(0, n * 16, 12 * 16)), q


def test_corpus_floor_declines_cheap_routes_on_small_corpus(spark, sf_dir,
                                                            tmp_path):
    """Corpus-size cost floor (the scan-cost term of the reference's
    pg_costestimate, index_search.cpp:247-420): a LOADED numeric/exact
    index whose sidecar says the corpus is below
    routing.minCorpusRows declines the rewrite — the stock pushed-down
    scan measurably wins there (SCALING.md BETWEEN x1) — while at/above
    the floor the same query routes. CONTAINS is exempt: its stock
    alternative pays a per-row tokenize that grows with corpus CPU
    (routed wins 3-7x from x32 up, gate table)."""
    from deeplake_spark import tql
    from deeplake_spark.operators.indexes import (
        MIN_CORPUS_ROWS_KEY,
        ExactTextIndex,
        InvertedIndex,
        NumericIndex,
    )

    docs = load_table(spark, sf_dir, "documents")
    np_, ep, ip = (str(tmp_path / d) for d in ("num", "ex", "inv"))
    build_numeric_index(docs, "n_chars").save(np_)
    build_exact_index(docs, "lang").save(ep)
    build_inverted_index(docs).save(ip)
    nidx = NumericIndex.load(spark, np_)
    eidx = ExactTextIndex.load(spark, ep)
    iidx = InvertedIndex.load(spark, ip)
    assert nidx.n_rows and eidx.n_rows_est  # floors have a size to gate on
    indexes = {
        "n_chars": ("numeric", nidx, "doc_id"),
        "lang": ("exact", eidx, "doc_id"),
        "text": ("inverted", iidx, "doc_id"),
    }
    cases = [
        "SELECT doc_id WHERE n_chars BETWEEN 100 AND 200",
        "SELECT doc_id WHERE n_chars IN (128, 200, 305)",
        "SELECT doc_id WHERE EQUALS(lang, 'en')",
    ]

    def is_routed(q) -> bool:
        df = tql.query(q, spark=spark, default=docs, indexes=indexes)
        return "Join" in df._jdf.queryExecution().optimizedPlan().toString()

    try:
        # ungate selectivity (the fixture vocabulary is dense): this
        # test pins the FLOOR, the selectivity gate has its own tests
        spark.conf.set("spark.sql.deeplake.routing.maxSelectivity", "1.0")
        # below the floor: every cheap-stock lane stays stock …
        spark.conf.set(MIN_CORPUS_ROWS_KEY, str(int(nidx.n_rows) + 1))
        assert not any(is_routed(q) for q in cases)
        # … but tokenize-class CONTAINS still routes (floor-exempt)
        assert is_routed("SELECT doc_id WHERE CONTAINS(text, 'spark')")
        # rows are identical either side of the floor
        floored = {q: sorted(
            r.doc_id
            for r in tql.query(q, spark=spark, default=docs, indexes=indexes).collect())
            for q in cases}
        # at the floor: all route again
        spark.conf.set(MIN_CORPUS_ROWS_KEY, str(int(nidx.n_rows)))
        for q in cases:
            assert is_routed(q), q
            got = sorted(
                r.doc_id
                for r in tql.query(q, spark=spark, default=docs,
                                   indexes=indexes).collect())
            assert got == floored[q], q
            assert got, f"no signal: {q}"
    finally:
        # the test session runs floor-less (conftest) — restore that
        spark.conf.set(MIN_CORPUS_ROWS_KEY, "0")
        spark.conf.unset("spark.sql.deeplake.routing.maxSelectivity")


def test_range_cache_lru_evicts_one_not_all(spark, monkeypatch):
    """The Python range memo is an access-order LRU like its JVM twin
    (IndexRoutingRule.RANGE_CACHE): crossing the bound evicts ONE
    least-recently-used entry — a hot probe re-planned across a long
    many-index session never re-pays its plan-time summary job. (The
    round-9 version cleared the whole memo at the bound.)"""
    import deeplake_spark.operators.indexes as ix
    from deeplake_spark import memo

    calls = {"n": 0}
    real = ix.summary_ranges

    def counting(bounds):
        calls["n"] += 1
        return real(bounds)

    monkeypatch.setattr(ix, "summary_ranges", counting)
    monkeypatch.setattr(memo.RANGE_CACHE, "bound", 3)
    memo.RANGE_CACHE.clear()

    def probe(n):
        return ix.granule_bounds(
            spark.range(n).withColumnRenamed("id", "row_id"))

    a, b, c, d = (probe(n) for n in (11, 22, 33, 44))
    for p in (a, b, c):
        assert ix.routed_scan_ranges(p, None)
    assert calls["n"] == 3
    # touch a: it becomes MRU, so b is now the LRU
    assert ix.routed_scan_ranges(a, None)
    assert calls["n"] == 3, "memo hit must not re-run the job"
    # insert d: evicts exactly b
    assert ix.routed_scan_ranges(d, None)
    assert calls["n"] == 4
    assert ix.routed_scan_ranges(a, None) and ix.routed_scan_ranges(c, None)
    assert calls["n"] == 4, "a and c must have survived the eviction"
    assert ix.routed_scan_ranges(b, None)
    assert calls["n"] == 5, "b was the LRU and must have been evicted"
    memo.RANGE_CACHE.clear()


def test_range_memo_misses_after_probe_file_rewrite(spark, tmp_path):
    """The range memo keys on memo.plan_key, which fingerprints every
    input file: a probe file rewritten in place (new ids, new mtime)
    must re-run the summary job. Serving the old file's ranges would
    prune the corpus scan to rows the new probe never names, and the
    semijoin would return nothing."""
    import os

    import pandas as pd

    from deeplake_spark.operators.indexes import routed_semijoin

    corpus = spark.range(60_000).withColumnRenamed("id", "doc_id")
    probe = str(tmp_path / "probe.parquet")

    def write(lo):
        pd.DataFrame({"row_id": list(range(lo, lo + 10))}).to_parquet(probe)

    def routed():
        return sorted(r.doc_id for r in routed_semijoin(
            corpus, spark.read.parquet(probe), "doc_id").collect())

    write(0)
    assert routed() == list(range(10))
    # same path, new rows; bump mtime explicitly (same-second rewrites
    # on coarse-mtime filesystems)
    st = os.stat(probe)
    write(50_000)
    os.utime(probe, (st.st_atime, st.st_mtime + 2))
    assert routed() == list(range(50_000, 50_010))


def test_manifest_key_changes_with_every_write(spark, tmp_path):
    """memo.manifest keys a side table on the file_key of its newest
    manifest: every write lands a new key, and a table dropped and
    re-created keys apart although its numbering restarts at 1. None
    for a path with no manifest."""
    import shutil

    from deeplake_spark import memo
    from deeplake_spark.operators.indexes import NumericIndex

    df = spark.createDataFrame([(i, float(i)) for i in range(8)],
                               "doc_id long, v double")
    p = str(tmp_path / "num")
    assert memo.manifest(p) is None
    build_numeric_index(df, "v").save(p)
    k1, m1 = memo.manifest(p)
    build_numeric_index(df, "v").save(p, mode="append")
    k2, m2 = memo.manifest(p)
    assert (m1["version"], m2["version"]) == (1, 2) and k1 != k2
    assert m2["meta"]["n"] == 16
    shutil.rmtree(p)
    build_numeric_index(df, "v").save(p)
    k3, m3 = memo.manifest(p)
    assert m3["version"] == 1 and k3 not in (k1, k2)
    assert NumericIndex.load(spark, p).values.count() == 8


@pytest.mark.parametrize("change", ["append_delta", "rebuild",
                                    "drop_recreate"])
def test_side_table_memo_misses_after_index_rewrite(spark, sf_dir,
                                                    tmp_path, change):
    """memo.SIDE_TABLE_MEMO keeps a loaded side table across queries,
    keyed on its newest manifest. After each way an index's
    files change — an append-commit writing an inverted delta into the
    existing bucket=N/ directories, create_index(_rebuild=True), and
    drop_index followed by a re-create — the next routed ds.query must
    see the new rows, not the memoized listing of the old files."""
    import os

    from deeplake_spark import dataset as dl
    from deeplake_spark.plans.explain import explain_query

    ds = dl.from_parquet(f"{sf_dir}/documents.parquet",
                         str(tmp_path / "ds"), spark)
    ds.create_index("text", "inverted")
    postings = os.path.join(ds.path, "_indexes", "text_inverted",
                            "postings")
    buckets = sorted(os.listdir(postings))
    # a fresh term whose term-hash bucket directory already exists, so
    # the delta adds files only inside existing bucket=N/ directories
    terms = [f"zzzstale{i}" for i in range(64)]
    hashed = spark.range(1).select(
        *[F.abs(F.hash(F.lit(t))) % 64 for t in terms]).head()
    term = next(t for t, b in zip(terms, hashed)
                if f"bucket={b}" in buckets)
    q = f"SELECT doc_id WHERE CONTAINS(text, '{term}')"
    assert ds.query(q).collect() == []  # memoizes the side tables
    top = os.stat(postings)
    if change != "append_delta":
        ds.indexing_mode = "manual"  # the commit leaves the index alone
    row = ds[0].asDict()
    row.pop("_row_id", None)
    row.update({"doc_id": 999_999, "text": term, "n_chars": len(term)})
    ds.append([row])
    ds.commit("append one row")
    if change == "append_delta":
        assert sorted(os.listdir(postings)) == buckets
        # Spark's file committer also moves the top directory's mtime
        # (its _temporary directory comes and goes there); a committer
        # need not. Put it back: the key must not rely on it.
        os.utime(postings, ns=(top.st_atime_ns, top.st_mtime_ns))
    elif change == "rebuild":
        ds.create_index("text", "inverted", _rebuild=True)
    else:
        ds.drop_index("text")
        ds.create_index("text", "inverted")
    view = ds.query(q)
    assert "Join" in explain_query(view).text  # routed through the index
    assert [r.doc_id for r in view.collect()] == [999_999]


#: Spark jobs a second routed top-k read on a loaded index may start,
#: construction plus collect, as measured on the fixture below: BM25
#: 5 + 2, ANN 1 + 2. When the search re-ran at collect these were
#: BM25 0 + 10 and ANN 0 + 2 (warm range memo), with the index
#: scanned again at collect.
_TOPK_READ_JOBS = {"bm25": 7, "ann": 3}


def test_second_query_reads_no_index_side_table(spark, kinds_source,
                                                tmp_path, monkeypatch):
    """Construction budget: once a dataset's indexes are loaded, a
    second ds.query on the unchanged dataset reads nothing under
    _indexes/ (neither DataFrameReader.parquet nor the side-table
    reader memo.read_files), and
    _load_indexes starts no Spark job (each side-table read used to
    pay a file listing and a footer-schema job per query). A routed
    top-k (BM25, ANN) runs its search once, at construction: the
    collected DataFrame scans no index file, and construction plus
    collect stay within the pinned job budget."""
    from pyspark.sql.readwriter import DataFrameReader

    from deeplake_spark import dataset as dl
    from deeplake_spark import memo

    ds = dl.from_parquet(kinds_source, str(tmp_path / "ds"), spark)
    ds.create_index("text", "inverted")
    ds.create_index("n", "numeric")
    ds.create_index("emb", "clustered", n_clusters=4)
    q = "SELECT doc_id WHERE CONTAINS(text, 'w3') AND n BETWEEN 3 AND 30"
    first = sorted(r.doc_id for r in ds.query(q).collect())
    assert first == [3, 10, 17, 24]

    reads = []
    real = DataFrameReader.parquet

    def counted(self, *paths, **options):
        reads.extend(p for p in paths if "_indexes" in str(p))
        return real(self, *paths, **options)

    real_files = memo.read_files

    def counted_files(spark, base, schema, files):
        reads.extend([base] if "_indexes" in base else [])
        return real_files(spark, base, schema, files)

    monkeypatch.setattr(DataFrameReader, "parquet", counted)
    monkeypatch.setattr(memo, "read_files", counted_files)
    sc = spark.sparkContext._jsc.sc()

    def jobs():
        sc.listenerBus().waitUntilEmpty()
        return sc.statusStore().jobsList(None).size()

    before = jobs()
    loaded = ds._load_indexes()
    assert jobs() == before, "_load_indexes started a Spark job"
    assert set(loaded) == {"text", "n", "emb"}
    assert sorted(r.doc_id for r in ds.query(q).collect()) == first
    assert reads == []

    topk = {
        "bm25": ("SELECT doc_id, BM25_SIMILARITY(text, 'w3 alpha') AS s "
                 "ORDER BY s DESC LIMIT 3", None),
        "ann": ("SELECT doc_id, COSINE_SIMILARITY(emb, ?) AS s "
                "ORDER BY s DESC LIMIT 3", [_kind_row(5)["emb"]]),
    }
    for kind, (text, params) in topk.items():
        want = [tuple(r) for r in ds.query(text, params=params).collect()]
        assert len(want) == 3
        before = jobs()
        df = ds.query(text, params=params).df
        assert [tuple(r) for r in df.collect()] == want
        assert jobs() - before <= _TOPK_READ_JOBS[kind], kind
        assert not [f for f in df.inputFiles() if "/_indexes/" in f], kind
    assert want[0][0] == 5  # the ANN query vector is row 5's own


def test_tql_topk_ceiling_confs_decline_route(spark, sf_dir, tmp_path):
    """Conf'd k ceiling in the TQL lane (round-10 review): by default
    an explicitly created index serves any LIMIT (reference parity —
    recall is governed by SearchConfig presets), but when a deployment
    sets routing.ann.maxK / maxKFrac the TQL routes honor them like
    the plain-SQL rule does (recall@k decays with k, SCALING.md),
    declining to the stock exact plan — which returns the exact rows."""
    import os as _os

    from deeplake_spark import tql
    from deeplake_spark.operators.similarity import (
        IVFIndex,
        build_ivf,
    )

    e = load_table(spark, sf_dir, "embeddings")
    p = str(tmp_path / "ivf")
    build_ivf(e, "embedding", "vec_id", n_clusters=8).save(p)
    idx = IVFIndex.load(spark, p)
    assert idx.n_rows_est
    qv = [float(x) for x in
          e.filter(F.col("vec_id") == 0).head().embedding]
    q = ("SELECT vec_id ORDER BY COSINE_SIMILARITY(embedding, ?) "
         "DESC LIMIT 10")
    indexes = {"embedding": ("clustered", idx, "vec_id")}

    def run():
        return tql.query(q, spark=spark, default=e, params=[qv],
                         indexes=indexes)

    def routed(df):
        return "Join" in df._jdf.queryExecution().optimizedPlan() \
            .toString()

    maxk_key = "spark.sql.deeplake.routing.ann.maxK"
    frac_key = "spark.sql.deeplake.routing.ann.maxKFrac"
    try:
        assert routed(run())  # conftest frac=1.0: ceiling=n, routes
        spark.conf.set(maxk_key, "9")
        declined = run()
        assert not routed(declined)
        # the declined plan is the stock exact top-k: exact rows
        got = [r.vec_id for r in declined.collect()]
        want = [r.vec_id for r in
                tql.query(q, spark=spark, default=e, params=[qv])
                .collect()]
        assert got == want and got
        spark.conf.unset(maxk_key)
        assert routed(run())
        # relative ceiling: 9.5/n puts the boundary just under k=10
        spark.conf.set(frac_key, str(9.5 / idx.n_rows_est))
        assert not routed(run())
        spark.conf.set(frac_key, "1.0")
        assert routed(run())
    finally:
        spark.conf.unset(maxk_key)
        spark.conf.set(frac_key, "1.0")  # the test session's default


def test_dataset_fingerprint_index_lifecycle(spark):
    """Dataset.create_index(kind='fingerprint') builds the signature
    side table at ingest; image_near_dup_pairs(index_path=...) probes
    it decode-free; an append-only commit under IndexingMode automatic
    delta-appends ONLY the new payloads' signatures (reference
    Column.create_index / IndexingMode, __init__.pyi:1678,2885)."""
    import tempfile

    import numpy as np

    from deeplake_spark import dataset as dl
    from deeplake_spark import types as dt
    from deeplake_spark.operators.multimodal import (
        FingerprintIndex,
        image_near_dup_pairs,
    )

    def ppm(pix):
        pix = np.asarray(pix, dtype=np.uint8)
        h, w, _ = pix.shape
        return bytearray(f"P6 {w} {h} 255\n".encode() + pix.tobytes())

    rng = np.random.default_rng(29)
    imgs = []
    for i in range(10):
        base = rng.integers(0, 256, (16, 16, 3))
        imgs.append(ppm(base))
        if i % 3 == 0:
            pert = base.copy()
            pert[0, 0] = rng.integers(0, 256, 3)
            imgs.append(ppm(pert))
    with tempfile.TemporaryDirectory() as d:
        ds = dl.create(d + "/ds", spark,
                       schema={"image": dt.Image("uint8", "ppm")})
        ds.append([{"image": p} for p in imgs[:8]])
        ds.commit("first")
        ds.create_index("image", "fingerprint", modality="image",
                        compression="ppm", strict=True)
        idx_path = ds._load_indexes()["image"][1]  # loaded FingerprintIndex
        assert idx_path.modality == "image"
        assert idx_path.n_rows_est == 8
        # append-only commit: automatic delta refresh, no rebuild
        ds.append([{"image": p} for p in imgs[8:]])
        ds.commit("second")
        meta = ds._load_indexes()["image"][1]
        assert meta.n_rows_est == len(imgs)
        fp_dir = d + "/ds/_indexes/image_fingerprint"
        persisted = {(r.a, r.b): r.hamming for r in image_near_dup_pairs(
            ds.to_df(), max_hamming=6, index_path=fp_dir).collect()}
        decode = {(r.a, r.b): r.hamming for r in image_near_dup_pairs(
            ds.to_df(), "image", "_row_id", compression="ppm",
            strict=True, max_hamming=6).collect()}
        assert persisted == decode and len(decode) >= 3
        ds.drop_index("image")
        assert "image" not in ds._load_indexes()


def test_route_clusters_pandas_matches_python_model(spark):
    """The Arrow-batched coarse-routing UDF (round 13 — replaced the
    interpreted SQL fold) ranks clusters exactly like the driver-side
    model: squared-L2 ascending, ties by cluster id ascending, first
    eff_nprobe ids. Planted ties included (two identical centroids)."""
    import numpy as np

    from deeplake_spark.functions.vector import route_clusters_pandas

    rng = np.random.RandomState(7)
    cents = rng.rand(12, 8).round(3)
    cents[5] = cents[2]  # exact tie: cids 2 and 5 equidistant everywhere
    cids = [30, 1, 22, 3, 14, 9, 6, 7, 8, 19, 10, 11]  # non-contiguous
    queries = rng.rand(40, 8).round(3)

    route = route_clusters_pandas([list(c) for c in cents], cids, 5)
    df = spark.createDataFrame(
        [(i, [float(x) for x in q]) for i, q in enumerate(queries)],
        "qid long, qv array<double>")
    got = {r.qid: list(r.route)
           for r in df.select("qid", route("qv").alias("route")).collect()}

    carr = np.asarray(cents, dtype=np.float64)
    cida = np.asarray(cids, dtype=np.int64)
    for i, q in enumerate(queries):
        d2 = ((carr - q) ** 2).sum(axis=1)
        want = [int(x) for x in cida[np.lexsort((cida, d2))[:5]]]
        assert got[i] == want, (i, got[i], want)
    # the planted tie must order by cid ascending: 9 (cents[5]) always
    # precedes 22 (cents[2] — the identical centroid) when both appear
    tied = [r for r in got.values() if 9 in r and 22 in r]
    assert tied, "tie fixture never surfaced — strengthen the fixture"
    for r in tied:
        assert r.index(9) < r.index(22)


def test_route_clusters_pandas_null_query_routes_nowhere(spark):
    """A NULL query vector routes to zero clusters (the retired SQL
    spelling's explode-of-null drop) — a streaming micro-batch with one
    bad row must not die in the routing UDF."""
    from deeplake_spark.functions.vector import route_clusters_pandas

    route = route_clusters_pandas([[0.0, 0.0], [1.0, 1.0]], [0, 1], 1)
    df = spark.createDataFrame([(0, [0.1, 0.1]), (1, None)],
                               "qid long, qv array<double>")
    rows = {r.qid: list(r.r)
            for r in df.select("qid", route("qv").alias("r")).collect()}
    assert rows == {0: [0], 1: []}


def test_r14_similarity_review_guards(spark, round_trip):
    """r14 similarity.py review regressions: candidates with ANY column
    name work on the quantized/pooled lanes (the ivf_search contract);
    bands > dim raises a clear error instead of an executor ANSI crash;
    zero-norm vectors stay out of the MMR pool; empty matrices don't
    fail the pooled build."""
    import pytest as pt

    from deeplake_spark.operators.similarity import (
        build_pooled_maxsim, build_quantized, maxsim_search, mmr_select,
        near_dup_pairs_lsh, quantized_index_search)

    rows = [(i, [float((i * 7 + j) % 5 - 2) for j in range(8)])
            for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = [1.0, 0.5, -0.25, 0.0, 0.75, -1.0, 0.25, 0.5]

    qidx = round_trip(build_quantized(df, vec_col="embedding", id_col="vec_id"))
    cand = df.filter(F.col("vec_id") < 15).select(
        F.col("vec_id").alias("my_ids"))  # deliberately odd name
    got = quantized_index_search(qidx, q, k=5, candidates=cand).collect()
    assert got and all(r.vec_id < 15 for r in got)

    mats = spark.createDataFrame(
        [(i, [[float((i + j + k) % 3 - 1) for k in range(4)]
              for j in range(3)]) for i in range(10)]
        + [(99, [])],  # empty matrix must not fail the build
        "doc_id long, mat array<array<double>>")
    pidx = round_trip(build_pooled_maxsim(mats, matrix_col="mat",
                                          id_col="doc_id"))
    assert pidx.pooled.count() == 10  # the empty-matrix doc stays out
    qm = [[1.0, 0.0, -1.0, 0.5]]
    got = maxsim_search(pidx, qm, k=3,
                        candidates=mats.filter(F.col("doc_id") < 5)
                        .select(F.col("doc_id").alias("odd_name"))).collect()
    assert got and all(r.doc_id < 5 for r in got)

    with pt.raises(ValueError, match="bands"):
        near_dup_pairs_lsh(df.limit(5), vec_col="embedding",
                           id_col="vec_id", dim=4, bands=8)

    zero = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.5, 0.5]), (2, [0.0, 0.0])],
        "vec_id long, embedding array<double>")
    out = mmr_select(zero, "embedding", [1.0, 0.0], k=3, pool=10)
    assert sorted(r.vec_id for r in out.collect()) == [0, 1]  # no NULL row


def test_candidates_multicolumn_carrying_id_col(spark, round_trip):
    """r14 advice #4: a MULTI-column candidates relation that carries
    the index id col in a non-first position must prune correctly
    (select the id col — renaming the first column would raise a
    duplicate-column error); a wider relation WITHOUT the id col is
    ambiguous and raises with the fix."""
    import pytest as pt

    from deeplake_spark.operators.similarity import (
        _cand_ids, build_quantized, quantized_index_search)

    rows = [(i, [float((i * 7 + j) % 5 - 2) for j in range(8)], f"s{i}")
            for i in range(30)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, tag string")
    q = [1.0, 0.5, -0.25, 0.0, 0.75, -1.0, 0.25, 0.5]
    qidx = round_trip(build_quantized(df.select("vec_id", "embedding"),
                                      vec_col="embedding", id_col="vec_id"))
    # id col in NON-first position, extra columns around it
    wide = df.filter(F.col("vec_id") < 12).select("tag", "vec_id",
                                                  "embedding")
    got = quantized_index_search(qidx, q, k=5, candidates=wide).collect()
    assert got and all(r.vec_id < 12 for r in got)
    # wider relation without the id col: explicit error, not a guess
    with pt.raises(ValueError, match="1-column row-id relation"):
        _cand_ids(df.select("tag", "embedding"), "vec_id")


def test_index_save_layout_one_file_per_bucket(spark, tmp_path):
    """r15 worktree bisect: the r14 save-time persist() pinned the
    bucketed write's upstream at shuffle-partition width, so
    partitionBy emitted one file per (task, bucket) — 672 tiny
    postings files instead of ~21, +0.3 s on EVERY later probe (t13
    0.88 → 1.2 s warm). The range-repartition before each partitioned
    index write pins the layout: ~one file per bucket directory no
    matter how wide the upstream arrives."""
    import glob
    import os

    from deeplake_spark.operators.indexes import (
        build_exact_index, build_inverted_index)

    docs = (spark.createDataFrame(
        [(i, f"alpha{i % 97} beta{i % 53} gamma{i % 31} common words")
         for i in range(3000)], "doc_id long, text string")
        .repartition(32))  # the persisted-width upstream shape
    idx = build_inverted_index(docs, text_col="text", id_col="doc_id")
    p = str(tmp_path / "inv")
    idx.save(p)
    per_bucket = [
        len(glob.glob(os.path.join(d, "*.parquet")))
        for d in glob.glob(os.path.join(p, "postings", "bucket=*"))]
    assert per_bucket and max(per_bucket) <= 2, per_bucket

    ex = build_exact_index(docs, col="text", id_col="doc_id")
    pe = str(tmp_path / "exact")
    ex.save(pe)
    per_bucket = [
        len(glob.glob(os.path.join(d, "*.parquet")))
        for d in glob.glob(os.path.join(pe, "digests", "bucket=*"))]
    assert per_bucket and max(per_bucket) <= 2, per_bucket


def test_doclens_write_is_not_upstream_wide(spark, tmp_path):
    """InvertedIndex.save range-repartitions `doclens` on row_id like
    the postings: a 41-row index built from a 32-partition upstream,
    plus a one-row delta, holds at most two doclens files per write,
    not one per upstream partition (a 41-row index used to hold 34)."""
    from deeplake_spark import memo
    from deeplake_spark.operators.indexes import build_inverted_index

    def files():
        return memo.manifest(p)[1]["tables"]["doclens"]["files"]

    docs = spark.createDataFrame(
        [(i, f"alpha w{i % 5}") for i in range(41)],
        "doc_id long, text string").repartition(32)
    p = str(tmp_path / "inv")
    build_inverted_index(docs).save(p)
    base = files()
    assert 1 <= len(base) <= 2, base
    delta = spark.createDataFrame([(41, "alpha new")],
                                  "doc_id long, text string")
    build_inverted_index(delta.repartition(32)).save(p, mode="append")
    assert 1 <= len(files()) - len(base) <= 2, files()


def test_granule_sidetable_ranges_match_posting_job(spark, tmp_path):
    """The build-time granule side table (VERDICT r15 #8) must be a
    DROP-IN for the plan-time posting summary: a single-term probe's
    granule rows coalesce to exactly the ranges `granule_bounds` of its
    posting ids gives; a multi-term union's rows (one per term and
    granule) give ranges no wider that still cover every probe id; and
    the summarized relation reads ONLY the granules side table. Corpus
    ids span ~19 granules so the comparison is non-trivial."""
    from pyspark.sql import functions as F

    from deeplake_spark import memo
    from deeplake_spark.operators.indexes import (
        InvertedIndex,
        build_inverted_index,
        granule_bounds,
        routed_scan_ranges,
    )

    n = 200
    src = (spark.range(n)
           .select((F.col("id") * 6000).alias("doc_id"),
                   F.when((F.col("id") >= 50) & (F.col("id") < 70),
                          F.lit("alpha needle"))
                   .otherwise(F.lit("alpha beta")).alias("text")))
    path = str(tmp_path / "inv_gran")
    build_inverted_index(src).save(path)
    idx = InvertedIndex.load(spark, path)
    gp = idx.probe_granules(["needle"])
    assert gp.inputFiles() and all(
        "/granules/" in f for f in gp.inputFiles()), gp.inputFiles()

    def both(terms):
        ids = idx.probe(terms)
        memo.RANGE_CACHE.clear()
        posting = routed_scan_ranges(granule_bounds(ids), None)
        memo.RANGE_CACHE.clear()
        granular = routed_scan_ranges(idx.probe_granules(terms), None)
        return ids, posting, granular

    _, posting, granular = both(["needle"])
    assert posting == granular and posting, posting
    # the selective term's ranges actually prune (subset of id space)
    covered = sum(hi - lo + 1 for lo, hi in posting)
    assert covered < (n - 1) * 6000, posting
    ids, posting, granular = both(["needle", "beta"])
    assert granular and all(
        any(plo <= lo and hi <= phi for plo, phi in posting)
        for lo, hi in granular), (posting, granular)
    assert all(any(lo <= r.row_id <= hi for lo, hi in granular)
               for r in ids.collect())

    # routed CONTAINS row parity against the stock tokenize filter
    from deeplake_spark.functions.text import tokenize
    from deeplake_spark.operators.indexes import contains_via_index

    routed = sorted(r[0] for r in
                    contains_via_index(src, idx, "needle")
                    .select("doc_id").collect())
    stock = sorted(r[0] for r in
                   src.filter(F.array_contains(tokenize("`text`"),
                                               "needle"))
                   .select("doc_id").collect())
    assert routed == stock and len(routed) == 20


def test_granule_sidetable_append_keeps_ranges_exact(spark, tmp_path):
    """Append soundness: a delta append extends the granule table (the
    manifest lists the delta's granules with its postings) and the
    merged ranges still equal the posting job."""
    from pyspark.sql import functions as F

    from deeplake_spark import memo
    from deeplake_spark.operators.indexes import (
        InvertedIndex,
        build_inverted_index,
        granule_bounds,
        routed_scan_ranges,
    )

    def corpus(lo, hi):
        return (spark.range(lo, hi)
                .select((F.col("id") * 6000).alias("doc_id"),
                        F.lit("alpha needle").alias("text")))

    path = str(tmp_path / "inv_app")
    build_inverted_index(corpus(0, 40)).save(path)
    build_inverted_index(corpus(400, 440)).save(path, mode="append")
    idx = InvertedIndex.load(spark, path)
    assert idx.granules is not None
    ids = idx.probe(["needle"])
    memo.RANGE_CACHE.clear()
    posting = routed_scan_ranges(granule_bounds(ids), None)
    memo.RANGE_CACHE.clear()
    granular = routed_scan_ranges(idx.probe_granules(["needle"]), None)
    # both segments' granules present (base cluster < 240k, delta
    # cluster >= 2.4M), ranges identical across the two summary paths
    assert posting == granular and posting, posting
    assert any(hi < 240_000 for _, hi in posting)
    assert any(lo >= 2_400_000 for lo, _ in posting)


def test_granule_overwrite_crash_window_is_sound(spark, tmp_path,
                                                 monkeypatch):
    """An OVERWRITE save that crashes after its granule and posting
    files reached the table directories, but before its manifest
    landed, leaves the old manifest serving: granules and postings of
    one state, so routed ranges never come from a granule table that
    does not match the postings."""
    from pyspark.sql import functions as F

    from deeplake_spark import storage
    from deeplake_spark.operators.indexes import (
        InvertedIndex,
        build_inverted_index,
        contains_via_index,
    )

    src = (spark.range(50)
           .select((F.col("id") * 6000).alias("doc_id"),
                   F.when(F.col("id") % 5 == 0, F.lit("alpha needle"))
                   .otherwise(F.lit("alpha beta")).alias("text")))
    path = str(tmp_path / "inv_ow")
    build_inverted_index(src).save(path)

    def probe():
        idx = InvertedIndex.load(spark, path)
        assert idx.granules is not None
        return sorted(r.doc_id for r in
                      contains_via_index(src, idx, "needle").collect())

    before = probe()
    assert len(before) == 10

    def crash(self, p, data):
        raise OSError("simulated crash before the manifest put")

    # the re-save indexes a different corpus, so any of its files a
    # reader saw would change the probe
    other = src.withColumn("text", F.lit("alpha needle"))
    monkeypatch.setattr(storage.PosixMetadataStore, "put_bytes", crash)
    with pytest.raises(OSError, match="simulated crash"):
        build_inverted_index(other).save(path)
    monkeypatch.undo()
    assert probe() == before


def test_granule_append_onto_empty_path_is_fresh(spark, tmp_path):
    """save(mode="append") onto a path with no manifest is a fresh
    save: it writes the granule table, and the granule-table ranges
    equal the posting-row summary."""
    from pyspark.sql import functions as F

    from deeplake_spark import memo
    from deeplake_spark.operators.indexes import (
        InvertedIndex,
        build_inverted_index,
        granule_bounds,
        routed_scan_ranges,
    )

    src = (spark.range(60)
           .select((F.col("id") * 6000).alias("doc_id"),
                   F.when(F.col("id") < 20, F.lit("alpha needle"))
                   .otherwise(F.lit("alpha beta")).alias("text")))
    path = str(tmp_path / "inv_empty_append")
    build_inverted_index(src).save(path, mode="append")
    idx = InvertedIndex.load(spark, path)
    assert idx.granules is not None
    ids = idx.probe(["needle"])
    memo.RANGE_CACHE.clear()
    posting = routed_scan_ranges(granule_bounds(ids), None)
    memo.RANGE_CACHE.clear()
    granular = routed_scan_ranges(idx.probe_granules(["needle"]), None)
    assert posting == granular and posting, posting


def test_manifest_with_range_granule_key_still_loads(spark, tmp_path):
    """Manifests written while the range granule was a session conf
    carry a `range_granule` meta key. The granule is a constant now and
    a granule row bounds its ids whatever it was built at, so such an
    index loads, ignores the key, and routes with the same ranges and
    rows."""
    import json

    from pyspark.sql import functions as F

    from deeplake_spark import memo
    from deeplake_spark.operators.indexes import (
        InvertedIndex,
        build_inverted_index,
        contains_via_index,
        routed_scan_ranges,
    )

    src = (spark.range(40)
           .select((F.col("id") * 6000).alias("doc_id"),
                   F.when(F.col("id") % 4 == 0, F.lit("alpha needle"))
                   .otherwise(F.lit("alpha beta")).alias("text")))
    path = str(tmp_path / "inv_old_meta")
    build_inverted_index(src).save(path)

    def probe():
        idx = InvertedIndex.load(spark, path)
        memo.RANGE_CACHE.clear()
        return (routed_scan_ranges(idx.probe_granules(["needle"]), None),
                sorted(r.doc_id for r in
                       contains_via_index(src, idx, "needle").collect()))

    before = probe()
    _key, man = memo.manifest(path)
    assert "range_granule" not in man["meta"]
    old = {**man, "version": man["version"] + 1,
           "meta": {**man["meta"], "range_granule": 4096}}
    log = tmp_path / "inv_old_meta" / memo.MANIFEST_DIR
    (log / f"{old['version']:08d}.json").write_text(json.dumps(old))
    assert memo.manifest(path)[1]["meta"]["range_granule"] == 4096
    assert probe() == before
    assert before[0] and before[1] == list(range(0, 240_000, 24_000))


# ------------------------------------------------ every kind, end to end

#: per kind: (column, create_index options, side table — also the loaded
#: index's attribute holding it —, meta row-count key, sorted table
#: names, partition column per table, meta keys in written order): the
#: manifest layout the JVM routing rule reads
_KIND_LAYOUTS = {
    "inverted": ("text", {}, "doclens", "n_docs",
                 ["doclens", "granules", "postings", "stats"],
                 {"granules": "bucket", "postings": "bucket"},
                 ["n_docs", "floor_frac", "heavy"]),
    "numeric": ("n", {}, "values", "n", ["values"], {"values": "bucket"},
                ["vmin", "width", "bucket_counts", "n"]),
    "json": ("meta", {"paths": ["type"]}, "entries", "n_docs",
             ["entries"], {"entries": "path"},
             ["n_docs", "floor_frac", "heavy"]),
    "exact": ("title", {}, "digests", "n_docs", ["digests"],
              {"digests": "bucket"}, ["n_docs", "floor_frac", "heavy"]),
    "clustered": ("emb", {"n_clusters": 4}, "assignments", "n",
                  ["assignments"], {"assignments": "cluster"},
                  ["centroids", "vec_col", "id_col", "n"]),
    "pooled": ("mat", {}, "pooled", "n", ["pooled"], {},
               ["matrix_col", "id_col", "n"]),
    "clustered_quantized": ("emb", {}, "bits", "n", ["bits"], {},
                            ["vec_col", "id_col", "n"]),
    "pq": ("emb", {"m": 4, "nbits": 2, "n_clusters": 2}, "codes", "n",
           ["codes"], {"codes": "cluster"},
           ["codebooks", "vec_col", "id_col", "centroids", "n"]),
    "fingerprint": ("image", {"modality": "image", "compression": "ppm",
                              "strict": True},
                    "signatures", "n", ["signatures"], {},
                    ["modality", "id_col", "params", "nbits", "n"]),
}


def _kind_row(i: int) -> dict:
    import numpy as np

    from tests.test_multimodal import _ppm

    rng = np.random.default_rng(i)
    emb = [float(x) for x in rng.normal(size=8)]
    return {"doc_id": i, "text": f"alpha w{i % 7} common",
            "title": f"title {i % 5}", "n": i,
            "meta": '{"type": "t%d"}' % (i % 3), "emb": emb,
            "mat": [emb, [float(x) for x in rng.normal(size=8)]],
            "image": bytes(_ppm(rng.integers(0, 256, (16, 16, 3))))}


@pytest.fixture(scope="module")
def kinds_source(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("kinds") / "src.parquet")
    spark.createDataFrame(
        [_kind_row(i) for i in range(40)],
        "doc_id long, text string, title string, n long, meta string, "
        "emb array<float>, mat array<array<float>>, image binary",
    ).coalesce(1).write.parquet(path)
    return path


def _file_bytes(root):
    import hashlib
    import os as _os

    out = {}
    for dirpath, _dirs, files in _os.walk(root):
        for fn in files:
            if fn.startswith((".", "_")) or fn.endswith(".json"):
                continue
            p = _os.path.join(dirpath, fn)
            with open(p, "rb") as f:
                out[_os.path.relpath(p, root)] = hashlib.md5(
                    f.read()).hexdigest()
    return out


@pytest.mark.parametrize("kind", sorted(_KIND_LAYOUTS))
def test_every_index_kind_round_trip(spark, kinds_source, tmp_path, kind):
    """Every registered kind through Dataset: create_index, an
    append-only commit under automatic indexing (delta append), then a
    reload through _load_indexes. Existing side-table files stay
    byte-identical, the manifest meta's n equals the side table's row
    count, the appended row is in the reloaded side table, the newest
    manifest lists exactly the files in each table directory, and
    table names, partition columns and meta keys match the pinned
    layout."""
    import os

    from deeplake_spark import dataset as dl
    from deeplake_spark import memo
    from deeplake_spark.storage import PosixMetadataStore

    (column, options, table, n_key, tables, parts,
     keys) = _KIND_LAYOUTS[kind]
    ds = dl.from_parquet(kinds_source, str(tmp_path / "ds"), spark)
    assert ds.indexing_mode == "automatic"
    ds.create_index(column, kind, **options)
    idx_dir = os.path.join(ds.path, "_indexes", f"{column}_{kind}")
    before = _file_bytes(idx_dir)
    assert before

    ds.append([_kind_row(1000)])
    ds.commit("append one row")
    after = _file_bytes(idx_dir)
    for p, digest in before.items():
        assert after.get(p) == digest, f"existing file rewritten: {p}"
    assert len(after) > len(before), "no delta files appended"

    kind_out, idx, id_col = ds._load_indexes()[column]
    assert (kind_out, id_col) == (kind, "_row_id")
    new_id = ds.to_df().filter(F.col("doc_id") == 1000).head()["_row_id"]
    frame = getattr(idx, table)  # the loaded side table
    fid = "row_id" if "row_id" in frame.columns else "_row_id"
    assert frame.filter(F.col(fid) == new_id).count() >= 1
    man = memo.manifest(idx_dir)[1]
    meta = man["meta"]
    assert man["version"] == 2
    assert meta[n_key] == frame.count() == 41

    assert sorted(os.listdir(idx_dir)) == ["_log"] + tables
    assert sorted(man["tables"]) == tables
    for t in tables:
        assert sorted(man["tables"][t]["files"]) == \
            PosixMetadataStore().files(os.path.join(idx_dir, t))
    for sub, col in parts.items():
        dirs = [d for d in os.listdir(os.path.join(idx_dir, sub))
                if not d.startswith((".", "_"))]
        assert dirs and all(d.startswith(col + "=") for d in dirs), dirs
    assert list(meta) == keys
