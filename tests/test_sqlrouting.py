"""Catalyst index routing for plain ``spark.sql`` (SURVEY §7 Phase-4).

The reference routes EVERY query through its index holder
(cpp/query_core/index_holder.hpp:18-43) — TQL text gets that via the
translator; these tests pin that raw Spark SQL gets it too, via the
compiled SparkSessionExtensions rule (deeplake_spark/plans/jvm/).

Contract under test: routed plans contain the posting/value-probe
LeftSemi join, return EXACTLY the rows of the unrouted plan, and the
rule stays inert unless both enabled and registered (stock-by-default).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from deeplake_spark.plans import sqlrouting as rt

CONTAINS_SQL = ("SELECT doc_id FROM {v} WHERE "
                "array_contains(split(lower(text), '\\\\s+'), 'spark')")


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(autouse=True)
def _ungated(spark):
    """The synthetic fixture vocabulary is DENSE (31 words, most in
    >50% of docs), so under the default selectivity gate almost no
    CONTAINS would route. These tests pin the rewrite machinery — run
    them ungated; the gate itself is covered by
    test_selectivity_gate_keeps_frequent_predicates_stock."""
    spark.conf.set(rt.MAX_SELECTIVITY_KEY, "1.0")
    yield
    spark.conf.unset(rt.MAX_SELECTIVITY_KEY)


@pytest.fixture()
def routed_ds(spark, sf_dir, tmp_path):
    if not rt.is_available(spark):
        pytest.skip("extension jar not on driver classpath")
    import deeplake_spark as dl

    ds = dl.from_parquet(f"{sf_dir}/documents.parquet",
                         str(tmp_path / "docs"), spark)
    ds.create_index("text", "inverted")
    ds.create_index("n_chars", "numeric")
    ds.to_df().createOrReplaceTempView("routed_docs")
    try:
        yield ds
    finally:
        rt.disable(spark)
        rt.clear(spark)
        spark.catalog.dropTempView("routed_docs")


def _tql_decision(spark, ds, where: str) -> tuple[bool, list]:
    """(routed, sorted doc ids) of `SELECT doc_id WHERE <where>` through
    ``ds.query``, with the Catalyst rule disabled while the plan is
    read and run, so only the TQL translator's decision shows."""
    rt.disable(spark)
    try:
        df = ds.query(f"SELECT doc_id WHERE {where}").df
        return ("LeftSemi" in _plan(df),
                sorted(r.doc_id for r in df.collect()))
    finally:
        rt.enable(spark)


def test_sql_routing_contains_and_numeric(spark, routed_ds):
    """Every routable WHERE shape: probe plan + identical rows."""
    cases = {
        "contains": CONTAINS_SQL.format(v="routed_docs"),
        "between": "SELECT doc_id FROM routed_docs "
                   "WHERE n_chars BETWEEN 100 AND 200",
        "in_plus_residual": "SELECT doc_id FROM routed_docs "
                            "WHERE n_chars IN (150, 151, 152) AND doc_id > 5",
        "strict_range": "SELECT doc_id FROM routed_docs "
                        "WHERE n_chars > 100 AND n_chars < 160",
        "equality": "SELECT doc_id FROM routed_docs WHERE n_chars = 150",
        "combined": "SELECT doc_id FROM routed_docs WHERE "
                    "array_contains(split(lower(text), '\\\\s+'), 'data') "
                    "AND n_chars BETWEEN 50 AND 400",
    }
    baseline = {k: sorted(r.doc_id for r in spark.sql(q).collect())
                for k, q in cases.items()}
    assert all("LeftSemi" not in _plan(spark.sql(q)) for q in cases.values())

    rt.register_dataset(routed_ds)
    rt.enable(spark)
    for name, q in cases.items():
        df = spark.sql(q)
        assert "LeftSemi" in _plan(df), f"{name} not routed"
        got = sorted(r.doc_id for r in df.collect())
        assert got == baseline[name], f"{name} changed results"
        assert got, f"{name} fixture carries no signal"

    # the contains probe pushes term equality into the posting scan and
    # prunes the term-hash bucket partition
    routed_df = spark.sql(cases["contains"])
    phys = routed_df._jdf.queryExecution().executedPlan().toString()
    assert "EqualTo(term,spark)" in phys, phys[:1500]
    assert "bucket" in _plan(routed_df)

    # kill switch: disable -> stock plan again
    rt.disable(spark)
    assert "LeftSemi" not in _plan(spark.sql(cases["contains"]))


def test_sql_routing_is_stock_by_default(spark, routed_ds):
    """No registration, no routing — even with the rule loaded and the
    conf flipped on, an UNregistered table plans stock."""
    rt.enable(spark)
    try:
        assert "LeftSemi" not in _plan(
            spark.sql(CONTAINS_SQL.format(v="routed_docs")))
    finally:
        rt.disable(spark)


def test_sql_routing_never_rewrites_unsound_shapes(spark, routed_ds):
    """Name-shadowing and semantics-changing shapes must NOT route:
    substring contains(), a computed column renamed to the indexed name,
    uppercase keywords (lower()-tokens can't match them)."""
    rt.register_dataset(routed_ds)
    rt.enable(spark)
    unsound = [
        # Spark's contains() is SUBSTRING semantics — a token posting
        # index cannot answer it
        "SELECT doc_id FROM routed_docs WHERE contains(text, 'spark')",
        # computed column shadowing the indexed name
        "SELECT doc_id FROM (SELECT doc_id, upper(text) AS text "
        "FROM routed_docs) WHERE "
        "array_contains(split(lower(text), '\\\\s+'), 'spark')",
        # uppercase keyword: constant-false against lower() tokens;
        # leave the predicate alone
        "SELECT doc_id FROM routed_docs WHERE "
        "array_contains(split(lower(text), '\\\\s+'), 'SPARK')",
        # wrong tokenizer regex
        "SELECT doc_id FROM routed_docs WHERE "
        "array_contains(split(lower(text), ','), 'spark')",
        # bounded split: different tokens than the index's tokenizer
        "SELECT doc_id FROM routed_docs WHERE "
        "array_contains(split(lower(text), '\\\\s+', 2), 'spark')",
    ]
    stock = [sorted(r.doc_id for r in spark.sql(q).collect())
             for q in unsound]
    for q, want in zip(unsound, stock):
        df = spark.sql(q)
        assert "LeftSemi" not in _plan(df), f"unsound rewrite: {q}"
        assert sorted(r.doc_id for r in df.collect()) == want


def test_sql_routing_runtime_install_handles_pushed_filters(spark, routed_ds):
    """The experimental.extraOptimizations install (for already-built
    sessions) runs POST-pushdown, so it routes predicates the resolution
    rule can't see yet — e.g. a WHERE on the indexed column in a JOIN
    query, which the optimizer pushes down to the scan."""
    rt.register_dataset(routed_ds)
    rt.enable(spark)
    rt.install(spark)
    try:
        q = ("SELECT d.doc_id FROM routed_docs d "
             "JOIN (SELECT DISTINCT n_chars AS nc FROM routed_docs) s "
             "ON d.n_chars = s.nc "
             "WHERE array_contains(split(lower(d.text), '\\\\s+'), 'spark')")
        df = spark.sql(q)
        assert "LeftSemi" in _plan(df)
        rt.disable(spark)
        want = sorted(r.doc_id for r in spark.sql(q).collect())
        rt.enable(spark)
        assert sorted(r.doc_id for r in df.collect()) == want
    finally:
        rt.uninstall(spark)


def test_routing_matches_tql_contains_route(spark, routed_ds):
    """Same question through all three front doors — TQL CONTAINS, the
    SQL spelling routed, the SQL spelling unrouted — one answer."""
    rt.register_dataset(routed_ds)
    rt.enable(spark)
    tql_rows = sorted(
        r.doc_id for r in
        routed_ds.query("SELECT doc_id WHERE CONTAINS(text, 'spark')")
        .collect())
    routed = spark.sql(CONTAINS_SQL.format(v="routed_docs"))
    assert "LeftSemi" in _plan(routed)
    assert sorted(r.doc_id for r in routed.collect()) == tql_rows
    # and both agree with the brute-force tokenization
    brute = sorted(
        r.doc_id for r in routed_ds.to_df()
        .filter(F.array_contains(F.split(F.lower("text"), r"\s+"), "spark"))
        .select("doc_id").collect())
    assert tql_rows == brute


def test_sql_routing_exact_string_equality(spark, sf_dir, tmp_path):
    """`col = 'literal'` on an exact-text-indexed column routes through
    the md5 digest lookup (TQL's EQUALS rewrite, reference
    index_search.cpp:172-199), digest-prefix partition pruned, with
    rows identical to the unrouted plan."""
    if not rt.is_available(spark):
        pytest.skip("extension jar not on driver classpath")
    import deeplake_spark as dl

    ds = dl.from_parquet(f"{sf_dir}/documents.parquet",
                         str(tmp_path / "docs"), spark)
    ds.create_index("lang", "exact")
    ds.to_df().createOrReplaceTempView("exact_docs")
    q = "SELECT doc_id FROM exact_docs WHERE lang = 'en' AND doc_id < 500"
    try:
        want = sorted(r.doc_id for r in spark.sql(q).collect())
        rt.register_dataset(ds)
        rt.enable(spark)
        # every lang value is FREQUENT in this fixture ('en' ≈ 41%,
        # rarest ≈ 14%): under the DEFAULT gate the digeststats sidecar
        # keeps the stock pushed-down filter (round-9 — a hot exact
        # value is the same hazard as a frequent term)
        spark.conf.unset(rt.MAX_SELECTIVITY_KEY)
        assert "LeftSemi" not in _plan(spark.sql(q))
        assert sorted(r.doc_id for r in spark.sql(q).collect()) == want
        # the _ungated threshold exercises the route mechanics
        spark.conf.set(rt.MAX_SELECTIVITY_KEY, "1.0")
        df = spark.sql(q)
        plan = _plan(df)
        assert "LeftSemi" in plan
        assert "digest" in plan           # the md5 lookup relation
        # the equality conjunct is KEPT as a residual filter above the
        # semijoin: an md5 collision can never admit a wrong row
        assert "= en" in plan, plan
        # a uniformly-spread value's probe ranges span ~the corpus: the
        # coverage gate (digeststats n via exactN) keeps the synthetic
        # range filter OUT of the corpus scan (the stock doc_id < 500
        # conjunct pushes as LessThan, not GreaterThanOrEqual)
        phys = df._jdf.queryExecution().executedPlan().toString()
        assert "GreaterThanOrEqual(doc_id" not in phys, phys[:2000]
        got = sorted(r.doc_id for r in df.collect())
        assert got == want and got
        # literal-on-the-left spelling routes too
        df2 = spark.sql("SELECT doc_id FROM exact_docs "
                        "WHERE 'en' = lang AND doc_id < 500")
        assert "LeftSemi" in _plan(df2)
        assert sorted(r.doc_id for r in df2.collect()) == want
    finally:
        rt.disable(spark)
        rt.clear(spark)
        spark.conf.set(rt.MAX_SELECTIVITY_KEY, "1.0")  # autouse teardown
        spark.catalog.dropTempView("exact_docs")


def test_as_sql_view_wires_routing_in_one_call(spark, sf_dir, tmp_path):
    """ds.as_sql_view(name): temp view + index registration + routing
    conf in one call — the one-liner a reference user migrating to
    plain SQL reaches for."""
    if not rt.is_available(spark):
        pytest.skip("extension jar not on driver classpath")
    import deeplake_spark as dl

    ds = dl.from_parquet(f"{sf_dir}/documents.parquet",
                         str(tmp_path / "docs"), spark)
    ds.create_index("text", "inverted")
    try:
        ds.as_sql_view("oneshot_docs")
        df = spark.sql(CONTAINS_SQL.format(v="oneshot_docs"))
        assert "LeftSemi" in _plan(df)
        want = sorted(
            r.doc_id for r in ds.to_df()
            .filter(F.array_contains(F.split(F.lower("text"), r"\s+"),
                                     "spark"))
            .select("doc_id").collect())
        assert sorted(r.doc_id for r in df.collect()) == want and want
    finally:
        rt.disable(spark)
        rt.clear(spark)
        spark.catalog.dropTempView("oneshot_docs")


def test_sql_routing_equivalence_fuzz(spark, routed_ds):
    """Randomized equivalence: routed and unrouted plans must agree for
    arbitrary keywords (hit or miss) and arbitrary numeric ranges,
    including empty, inverted (lo>hi), and out-of-domain ranges."""
    import random

    rnd = random.Random(17)
    words = ["spark", "data", "fast", "query", "zzzznothere", "lake",
             "the", "a", "join", "1", "-", "x'y"]
    rt.register_dataset(routed_ds)
    rt.enable(spark)
    try:
        for _ in range(8):
            kw = rnd.choice(words)
            lo = rnd.randint(-50, 700)
            hi = rnd.randint(-50, 700)
            safe = kw.replace("'", "''")
            q = ("SELECT doc_id FROM routed_docs WHERE "
                 f"array_contains(split(lower(text), '\\\\s+'), '{safe}') "
                 f"OR (n_chars BETWEEN {lo} AND {hi})")
            # OR blocks conjunct routing — must stay stock AND correct
            df_or = spark.sql(q)
            assert "LeftSemi" not in _plan(df_or)
            q2 = ("SELECT doc_id FROM routed_docs WHERE "
                  f"array_contains(split(lower(text), '\\\\s+'), '{safe}') "
                  f"AND n_chars BETWEEN {lo} AND {hi}")
            routed = spark.sql(q2)
            rt.disable(spark)
            want = sorted(r.doc_id for r in spark.sql(q2).collect())
            rt.enable(spark)
            assert sorted(r.doc_id for r in routed.collect()) == want, q2
    finally:
        rt.disable(spark)


@pytest.fixture()
def ann_ds(spark, sf_dir, tmp_path):
    """Embeddings dataset with a clustered (IVF) index + temp view."""
    if not rt.is_available(spark):
        pytest.skip("extension jar not on driver classpath")
    import deeplake_spark as dl

    ds = dl.from_parquet(f"{sf_dir}/embeddings.parquet",
                         str(tmp_path / "emb"), spark)
    ds.create_index("embedding", "clustered", n_clusters=16)
    ds.to_df().createOrReplaceTempView("ann_emb")
    qv = [float(x) for x in spark.sql(
        "SELECT embedding FROM ann_emb WHERE vec_id = 7"
    ).collect()[0].embedding]
    try:
        yield ds, qv
    finally:
        rt.disable(spark)
        rt.clear(spark)
        for key in ("spark.sql.deeplake.routing.ann.accuracyFactor",
                    "spark.sql.deeplake.routing.ann.enabled"):
            spark.conf.unset(key)
        spark.catalog.dropTempView("ann_emb")


def _ann_sqls(qv):
    return {
        "cosine_desc": ("SELECT vec_id FROM ann_emb ORDER BY "
                        f"{rt.cosine_sql('embedding', qv)} DESC LIMIT 10"),
        "dot_desc": ("SELECT vec_id FROM ann_emb ORDER BY "
                     f"{rt.dot_sql('embedding', qv)} DESC LIMIT 10"),
        # ASC routes require NULLS LAST: the ASC default (NULLS FIRST)
        # would lead with null-vector rows the cluster semijoin drops
        "l2_asc": ("SELECT vec_id FROM ann_emb ORDER BY "
                   f"{rt.l2_sq_sql('embedding', qv)} ASC NULLS LAST "
                   "LIMIT 10"),
        "l2_sqrt_asc": ("SELECT vec_id FROM ann_emb ORDER BY "
                        f"sqrt({rt.l2_sq_sql('embedding', qv)}) "
                        "ASC NULLS LAST LIMIT 10"),
        "one_minus_cos_asc": ("SELECT vec_id FROM ann_emb ORDER BY "
                              f"1.0 - {rt.cosine_sql('embedding', qv)} "
                              "ASC NULLS LAST LIMIT 10"),
        "aliased_score": (f"SELECT vec_id, {rt.cosine_sql('embedding', qv)}"
                          " AS score FROM ann_emb "
                          "ORDER BY score DESC LIMIT 10"),
    }


def test_sql_topk_ann_routes_every_spelling(spark, ann_ds):
    """ORDER BY <vector score> LIMIT k over a clustered-indexed column
    routes through the IVF cell-pruned semijoin for every documented
    spelling (dot/cosine/L2, monotone wrappers, aliased score), keeps
    the user's Sort+Limit as the exact reranker, and meets the IVF
    recall bar at the default probe width (the v10 contract)."""
    ds, qv = ann_ds
    sqls = _ann_sqls(qv)
    exact = {k: [r.vec_id for r in spark.sql(q).collect()]
             for k, q in sqls.items()}
    assert all("LeftSemi" not in _plan(spark.sql(q)) for q in sqls.values())

    rt.register_dataset(ds)
    rt.enable(spark)
    for name, q in sqls.items():
        df = spark.sql(q)
        plan = _plan(df)
        assert "LeftSemi" in plan and "cluster#" in plan, f"{name} not routed"
        got = [r.vec_id for r in df.collect()]
        overlap = len(set(got) & set(exact[name])) / 10
        assert overlap >= 0.6, f"{name} recall {overlap} too low"

    # probing every cell (accuracy_factor=20 -> eff_nprobe=n) must give
    # EXACTLY the exact top-k: the pruned candidate set is the corpus
    spark.conf.set("spark.sql.deeplake.routing.ann.accuracyFactor", "20")
    df = spark.sql(sqls["cosine_desc"])
    assert "LeftSemi" in _plan(df)
    assert set(r.vec_id for r in df.collect()) == set(exact["cosine_desc"])
    spark.conf.set("spark.sql.deeplake.routing.ann.accuracyFactor", "10")

    # parity with the Python entry path: same cells, same candidates
    from deeplake_spark.operators.similarity import IVFIndex, ivf_search

    idx = IVFIndex.load(spark, f"{ds.path}/_indexes/embedding_clustered")
    via_py = set(r[idx.id_col] for r in ivf_search(idx, qv, k=10).collect())
    via_sql = set(
        r.vec_id for r in spark.sql(sqls["cosine_desc"]).collect())
    rows = {r.vec_id: r._row_id for r in spark.sql(
        "SELECT vec_id, _row_id FROM ann_emb").collect()}
    assert {rows[v] for v in via_sql} == via_py


def test_sql_topk_ann_never_routes_unsound_shapes(spark, ann_ds):
    """Direction/family mismatches, multi-column scores, and the ANN
    kill-switch conf must leave the plan stock (exact top-k scan)."""
    ds, qv = ann_ds
    rt.register_dataset(ds)
    rt.enable(spark)
    cos = rt.cosine_sql("embedding", qv)
    l2 = rt.l2_sq_sql("embedding", qv)
    unsound = [
        # similarity ASC = least-similar: far cells hold the answer
        f"SELECT vec_id FROM ann_emb ORDER BY {cos} ASC LIMIT 10",
        f"SELECT vec_id FROM ann_emb ORDER BY {l2} DESC LIMIT 10",
        # second column in the score: not a pure vector ranking
        f"SELECT vec_id FROM ann_emb ORDER BY {cos} * vec_id DESC LIMIT 10",
        # non-monotone wrapper around the score
        f"SELECT vec_id FROM ann_emb ORDER BY abs({cos}) DESC LIMIT 10",
        # no LIMIT: a full sort must stay exact
        f"SELECT vec_id FROM ann_emb ORDER BY {cos} DESC",
    ]
    for q in unsound:
        assert "cluster#" not in _plan(spark.sql(q)), f"unsound route: {q}"
    spark.conf.set("spark.sql.deeplake.routing.ann.enabled", "false")
    q = f"SELECT vec_id FROM ann_emb ORDER BY {cos} DESC LIMIT 10"
    assert "cluster#" not in _plan(spark.sql(q))
    spark.conf.set("spark.sql.deeplake.routing.ann.enabled", "true")
    assert "cluster#" in _plan(spark.sql(q))


def test_hybrid_and_bm25_sql_match_python_paths(spark, sf_dir):
    """Plain ``spark.sql`` text for BM25 top-k and hybrid vector+BM25
    softmax fusion (hybrid_query_merge.hpp semantics): the generated
    statements over the registered index side views must reproduce the
    Python paths' rows exactly — t10's fused list and bm25_via_index's
    scores. Jar-independent: these are plain views + SQL."""
    from deeplake_spark.operators.indexes import bm25_via_index
    from deeplake_spark.queries import load_all
    from deeplake_spark.queries.text_ops import _HYBRID_N, _inv_index

    reg = load_all()
    idx = _inv_index(spark, sf_dir)
    from deeplake_spark.queries import saved_index_path

    idx_path = saved_index_path(sf_dir, "inv")
    rt.register_index_views(spark, "hyb_docs", idx_path)
    spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .createOrReplaceTempView("hyb_docs")
    qv = [float(x) for x in spark.sql(
        "SELECT embedding FROM hyb_docs WHERE vec_id = 0"
    ).collect()[0].embedding]
    try:
        # BM25 top-k: SQL == bm25_via_index, row for row
        q = rt.bm25_topk_sql("hyb_docs", ["spark", "vector"], k=10)
        got = [(r.doc_id, r.score) for r in spark.sql(q).collect()]
        want = [(r.row_id, r.bm25) for r in
                bm25_via_index(idx, ["spark", "vector"], k=10).collect()]
        assert got == want and got
        # the posting probe partition-prunes via the foldable bucket hash
        phys = spark.sql(q)._jdf.queryExecution().executedPlan().toString()
        assert "bucket" in phys

        # hybrid fusion: SQL == the t10 registered query, row for row
        q = rt.hybrid_search_sql(
            "hyb_docs", ["spark", "vector"], qv,
            k=10, n=_HYBRID_N, id_col="vec_id")
        got = [(r.doc_id, round(r.fused, 9))
               for r in spark.sql(q).collect()]
        want = [(r.doc_id, round(r.fused, 9))
                for r in reg["t10_hybrid_search"].fn(spark, sf_dir)
                .collect()]
        assert got == want and len(got) == 10
    finally:
        for v in ("hyb_docs", "hyb_docs__postings", "hyb_docs__doclens",
                  "hyb_docs__stats"):
            spark.catalog.dropTempView(v)


def test_bm25_sql_escapes_backslash_terms(spark, tmp_path):
    """A query term containing a backslash must survive SQL string
    interpolation: Spark's default literal parser treats \\ as an
    escape, so an unescaped term silently becomes a different string
    and the SQL statement diverges from bm25_via_index (which passes
    terms as Python literals)."""
    from deeplake_spark.operators.indexes import (
        InvertedIndex,
        bm25_via_index,
        build_inverted_index,
    )

    df = spark.createDataFrame(
        [(1, "path\\to thing"), (2, "other words here"),
         (3, "path\\to again path\\to")],
        "doc_id long, text string")
    idx_path = str(tmp_path / "bs_idx")
    build_inverted_index(df, "text", "doc_id").save(idx_path)
    idx = InvertedIndex.load(spark, idx_path)
    rt.register_index_views(spark, "bs_docs", idx_path)
    try:
        got = [(r.doc_id, r.score) for r in spark.sql(
            rt.bm25_topk_sql("bs_docs", ["path\\to"], k=5)).collect()]
        want = [(r.row_id, r.bm25) for r in
                bm25_via_index(idx, ["path\\to"], k=5).collect()]
        assert got == want
        assert [d for d, _ in got] == [3, 1]  # the term actually matched
        # quote + backslash together
        got2 = [r.doc_id for r in spark.sql(
            rt.bm25_topk_sql("bs_docs", ["o'x\\y"], k=5)).collect()]
        assert got2 == []                     # parses cleanly, no hits
    finally:
        for v in ("bs_docs__postings", "bs_docs__doclens", "bs_docs__stats"):
            spark.catalog.dropTempView(v)


def test_as_sql_view_registers_index_side_views(spark, sf_dir, tmp_path):
    """ds.as_sql_view wires the inverted side tables too, so a plain
    SQL user can run the generated BM25 statement with no extra
    setup."""
    import deeplake_spark as dl

    ds = dl.from_parquet(f"{sf_dir}/documents.parquet",
                         str(tmp_path / "docs"), spark)
    ds.create_index("text", "inverted")
    try:
        ds.as_sql_view("sv_docs", routed=False)
        out = spark.sql(
            rt.bm25_topk_sql("sv_docs", ["spark"], k=5)).collect()
        assert out and all(r.score > 0 for r in out)
    finally:
        for v in ("sv_docs", "sv_docs__postings", "sv_docs__doclens",
                  "sv_docs__stats"):
            spark.catalog.dropTempView(v)


def test_sql_routing_prefix_matches_segment_boundaries(spark, sf_dir,
                                                       tmp_path):
    """A registered dataset at /x/docs must NOT capture scans of a
    sibling /x/docs2 — prefix ownership stops at path-segment
    boundaries (a wrong-index rewrite would silently change results)."""
    if not rt.is_available(spark):
        pytest.skip("extension jar not on driver classpath")
    import deeplake_spark as dl

    ds = dl.from_parquet(f"{sf_dir}/documents.parquet",
                         str(tmp_path / "docs"), spark)
    ds.create_index("text", "inverted")
    sibling = dl.from_parquet(f"{sf_dir}/documents.parquet",
                              str(tmp_path / "docs2"), spark)
    sibling.to_df().createOrReplaceTempView("sibling_docs")
    try:
        rt.register_dataset(ds)
        rt.enable(spark)
        df = spark.sql(CONTAINS_SQL.format(v="sibling_docs"))
        assert "LeftSemi" not in _plan(df), \
            "sibling table captured by another dataset's registration"
        assert df.count() > 0
    finally:
        rt.disable(spark)
        rt.clear(spark)
        spark.catalog.dropTempView("sibling_docs")


def test_dataset_hybrid_search_matches_sql_statement(spark, sf_dir,
                                                     tmp_path):
    """Dataset.hybrid_search (Python API) and hybrid_search_sql (plain
    SQL text) are the SAME fusion: over one dataset carrying both a
    text and an embedding column (no ANN index, so both vector sides
    are exact), the two front doors return identical (id, fused)
    rows."""
    import deeplake_spark as dl

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .withColumnRenamed("vec_id", "doc_id").select("doc_id", "embedding")
    joined = docs.join(emb, "doc_id")
    src = str(tmp_path / "joined.parquet")
    joined.write.parquet(src)
    ds = dl.from_parquet(src, str(tmp_path / "hyb"), spark)
    ds.create_index("text", "inverted")
    qv = [float(x) for x in emb.filter("doc_id = 0")
          .collect()[0].embedding]
    try:
        out = ds.hybrid_search(["spark", "vector"], qv, k=10)
        rows = [(r._row_id, round(r.fused, 9)) for r in out.collect()]
        assert len(rows) == 10 and rows == sorted(
            rows, key=lambda t: (-t[1], t[0]))

        ds.as_sql_view("hybapi_docs", routed=False)
        n = 10 * ds.query_config.accuracy_factor
        q = rt.hybrid_search_sql("hybapi_docs", ["spark", "vector"], qv,
                                 k=10, n=n)
        want = [(r.doc_id, round(r.fused, 9)) for r in spark.sql(q).collect()]
        assert rows == want
    finally:
        for v in ("hybapi_docs", "hybapi_docs__postings",
                  "hybapi_docs__doclens", "hybapi_docs__stats"):
            spark.catalog.dropTempView(v)


def test_sql_topk_routes_through_ivfpq_codes(spark, sf_dir, tmp_path):
    """A `pq` index built WITH a coarse quantizer (IVFADC) carries the
    same cluster partitioning on its codes table as an IVF index does
    on assignments — the top-k rule prunes through it identically (the
    kept Sort reranks with the EXACT score, so ADC compression never
    touches results). A flat PQ (no centroids) must stay stock: there
    is nothing to prune on."""
    if not rt.is_available(spark):
        pytest.skip("extension jar not on driver classpath")
    import deeplake_spark as dl

    ds = dl.from_parquet(f"{sf_dir}/embeddings.parquet",
                         str(tmp_path / "emb"), spark)
    ds.create_index("embedding", "pq", m=8, n_clusters=8)
    ds.to_df().createOrReplaceTempView("pq_emb")
    qv = [float(x) for x in spark.sql(
        "SELECT embedding FROM pq_emb WHERE vec_id = 3"
    ).collect()[0].embedding]
    q = ("SELECT vec_id FROM pq_emb ORDER BY "
         f"{rt.cosine_sql('embedding', qv)} DESC LIMIT 10")
    try:
        exact = [r.vec_id for r in spark.sql(q).collect()]
        rt.register_dataset(ds)
        rt.enable(spark)
        df = spark.sql(q)
        plan = _plan(df)
        assert "LeftSemi" in plan and "cluster#" in plan
        got = [r.vec_id for r in df.collect()]
        assert len(set(got) & set(exact)) / 10 >= 0.6
        # full probe == exact, same as the IVF route
        spark.conf.set("spark.sql.deeplake.routing.ann.accuracyFactor",
                       "20")
        assert set(r.vec_id for r in spark.sql(q).collect()) == set(exact)
    finally:
        rt.disable(spark)
        rt.clear(spark)
        spark.conf.unset("spark.sql.deeplake.routing.ann.accuracyFactor")
        spark.catalog.dropTempView("pq_emb")

    flat = dl.from_parquet(f"{sf_dir}/embeddings.parquet",
                           str(tmp_path / "embflat"), spark)
    flat.create_index("embedding", "pq", m=8)     # no coarse quantizer
    flat.to_df().createOrReplaceTempView("pqflat_emb")
    try:
        rt.register_dataset(flat)
        rt.enable(spark)
        q2 = ("SELECT vec_id FROM pqflat_emb ORDER BY "
              f"{rt.cosine_sql('embedding', qv)} DESC LIMIT 10")
        assert "cluster#" not in _plan(spark.sql(q2))
    finally:
        rt.disable(spark)
        rt.clear(spark)
        spark.catalog.dropTempView("pqflat_emb")


def test_sql_topk_wrapper_fuzz_routes_iff_direction_correct(spark,
                                                            ann_ds):
    """Randomized monotone-wrapper fuzz over the score spelling: for
    chains of round/sqrt/1-x/negate/scale wrappers the rule must route
    exactly when the effective sort direction matches the family
    (similarity-increasing => DESC), and routed results must equal the
    exact top-k at full probe width. A wrong flip-parity in the Java
    walker would either miss routes (caught by the `routed` check) or
    route a least-similar query (caught by the equality check)."""
    import random

    ds, qv = ann_ds
    rnd = random.Random(23)
    rt.register_dataset(ds)
    rt.enable(spark)
    spark.conf.set("spark.sql.deeplake.routing.ann.accuracyFactor", "20")
    base_desc = True  # cosine: similarity => DESC when unflipped
    for _ in range(10):
        expr = rt.cosine_sql("embedding", qv)
        flip = False
        for _ in range(rnd.randint(0, 3)):
            w = rnd.choice(["round", "one_minus", "neg_scale", "scale",
                            "plus"])
            if w == "round":
                expr = f"round({expr}, 6)"
            elif w == "one_minus":
                expr = f"(1.0 - {expr})"
                flip = not flip
            elif w == "neg_scale":
                expr = f"(-2.5 * {expr})"
                flip = not flip
            elif w == "scale":
                expr = f"({expr} * 3.0)"
            else:
                expr = f"({expr} + 0.25)"
        direction = "DESC" if (base_desc != flip) else "ASC NULLS LAST"
        q = (f"SELECT vec_id FROM ann_emb ORDER BY {expr} {direction} "
             "LIMIT 10")
        df = spark.sql(q)
        assert "cluster#" in _plan(df), f"should route: {q[:120]}"
        rt.disable(spark)
        want = [r.vec_id for r in spark.sql(q).collect()]
        rt.enable(spark)
        assert set(r.vec_id for r in df.collect()) == set(want), q[:120]
        # the WRONG direction must never route
        other = "ASC NULLS LAST" if direction == "DESC" else "DESC"
        q2 = (f"SELECT vec_id FROM ann_emb ORDER BY {expr} {other} "
              "LIMIT 10")
        assert "cluster#" not in _plan(spark.sql(q2)), q2[:120]
    spark.conf.set("spark.sql.deeplake.routing.ann.accuracyFactor", "10")


def test_tql_and_sql_ann_routes_agree(spark, ann_ds):
    """The same ANN question through both front doors — TQL
    `ORDER BY COSINE_SIMILARITY ... LIMIT k` (translator route) and the
    routed plain-SQL spelling — must return the same rows: both prune
    with the same SearchConfig defaults over the same persisted IVF
    index, then exact-rerank."""
    ds, qv = ann_ds
    rt.register_dataset(ds)
    rt.enable(spark)
    tql_rows = [r.vec_id for r in ds.query(
        "SELECT vec_id, COSINE_SIMILARITY(embedding, ?) AS score "
        "ORDER BY score DESC LIMIT 10", params=[qv],
    ).collect()]
    df = spark.sql("SELECT vec_id FROM ann_emb ORDER BY "
                   f"{rt.cosine_sql('embedding', qv)} DESC LIMIT 10")
    assert "cluster#" in _plan(df)
    assert set(r.vec_id for r in df.collect()) == set(tql_rows)


def test_multi_root_scan_with_foreign_path_stays_stock(spark, sf_dir,
                                                       tmp_path):
    """A scan whose root paths MIX a registered dataset with an
    unregistered directory must not route: the index semijoin would
    wrongly drop every row of the unregistered files (ALL roots must
    fall under one registered prefix — IndexRegistry.lookupByPaths)."""
    if not rt.is_available(spark):
        pytest.skip("extension jar not on driver classpath")
    import deeplake_spark as dl

    ds = dl.from_parquet(f"{sf_dir}/documents.parquet",
                         str(tmp_path / "docs"), spark)
    ds.create_index("text", "inverted")
    # a second parquet dir with the same schema, OUTSIDE the dataset
    other = str(tmp_path / "extra")
    (ds.to_df().limit(7)
     .withColumn("doc_id", F.col("doc_id") + 1_000_000)
     .write.parquet(other))

    import glob

    data_dir = glob.glob(str(tmp_path / "docs" / "data" / "*.parquet"))[0]
    try:
        rt.register_dataset(ds)
        rt.enable(spark)
        both = spark.read.parquet(data_dir, other)
        q = both.filter(F.expr(
            "array_contains(split(lower(text), '\\\\s+'), 'spark')"
        )).select("doc_id")
        assert "LeftSemi" not in _plan(q), "multi-root scan was routed"
        # the pure dataset scan still routes
        alone = spark.read.parquet(data_dir).filter(F.expr(
            "array_contains(split(lower(text), '\\\\s+'), 'spark')"
        )).select("doc_id")
        assert "LeftSemi" in _plan(alone)
        assert sorted(r.doc_id for r in alone.collect()) == sorted(
            r.doc_id for r in q.filter("doc_id < 1000000").collect())
    finally:
        rt.disable(spark)
        rt.clear(spark)


def test_sql_topk_huge_limit_stays_exact(spark, ann_ds):
    """LIMIT beyond routing.ann.maxK (default 10000) must not route:
    a corpus-scale k turns cell pruning into silent row loss rather
    than approximate ranking."""
    ds, qv = ann_ds
    rt.register_dataset(ds)
    rt.enable(spark)
    cos = rt.cosine_sql("embedding", qv)
    big = f"SELECT vec_id FROM ann_emb ORDER BY {cos} DESC LIMIT 50000"
    assert "cluster#" not in _plan(spark.sql(big))
    # and the same query routes once the ceiling is raised (frac=0
    # isolates the absolute ceiling from the corpus-relative one,
    # which has its own plan-pair test)
    spark.conf.set("spark.sql.deeplake.routing.ann.maxK", "100000")
    spark.conf.set("spark.sql.deeplake.routing.ann.maxKFrac", "0")
    try:
        assert "cluster#" in _plan(spark.sql(big))
    finally:
        spark.conf.unset("spark.sql.deeplake.routing.ann.maxK")
        spark.conf.set("spark.sql.deeplake.routing.ann.maxKFrac", "1.0")


def test_selectivity_gate_keeps_frequent_predicates_stock(spark,
                                                          routed_ds):
    """The cost gate (reference pg_costestimate, index_search.cpp:
    316-420): under the DEFAULT maxSelectivity, a frequent term
    (df ≈ 0.77·N here) and a broad numeric range stay on the stock
    pushed-down scan — their probe sides would be near-corpus-size and
    the semijoin measurably loses to the in-place filter (sf0.1:
    stock 0.178s vs routed 0.29s) — while a selective term ('dup',
    df ≈ 0.05·N) and a narrow range still route. Results identical
    in every case."""
    rt.register_dataset(routed_ds)
    rt.enable(spark)
    spark.conf.unset(rt.MAX_SELECTIVITY_KEY)     # exercise the DEFAULT
    freq = CONTAINS_SQL.format(v="routed_docs")  # 'spark': df ~0.77
    rare = ("SELECT doc_id FROM routed_docs WHERE "
            "array_contains(split(lower(text), '\\\\s+'), 'dup')")
    broad = ("SELECT doc_id FROM routed_docs "
             "WHERE n_chars BETWEEN 50 AND 400")  # ~0.68 of rows
    narrow = ("SELECT doc_id FROM routed_docs "
              "WHERE n_chars BETWEEN 104 AND 112")
    try:
        for q, should_route, tql_q in (
                (freq, False, "CONTAINS(text, 'spark')"),
                (rare, True, "CONTAINS(text, 'dup')"),
                (broad, False, "n_chars BETWEEN 50 AND 400"),
                (narrow, True, "n_chars BETWEEN 104 AND 112")):
            df = spark.sql(q)
            routed = "LeftSemi" in _plan(df)
            assert routed == should_route, (q, _plan(df)[:400])
            rt.disable(spark)
            want = sorted(r.doc_id for r in spark.sql(q).collect())
            rt.enable(spark)
            assert sorted(r.doc_id for r in df.collect()) == want
            # the TQL front end takes the same decision, same rows
            assert _tql_decision(spark, routed_ds, tql_q) == \
                (should_route, want), tql_q
        # raising the threshold routes the frequent term again
        spark.conf.set(rt.MAX_SELECTIVITY_KEY, "1.0")
        assert "LeftSemi" in _plan(spark.sql(freq))
    finally:
        rt.disable(spark)
        spark.conf.set(rt.MAX_SELECTIVITY_KEY, "1.0")  # autouse teardown


def test_sql_topk_nulls_first_stays_stock_and_exact(spark, sf_dir,
                                                    tmp_path):
    """Default-ASC (NULLS FIRST) must NOT route: rows with a NULL
    embedding lead the exact result, and the cluster semijoin would
    silently drop them — a row change, not the documented recall
    approximation. The same query spelled ASC NULLS LAST routes."""
    if not rt.is_available(spark):
        pytest.skip("extension jar not on driver classpath")
    from deeplake_spark.operators.similarity import build_ivf

    base = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = len(base.head().embedding)
    src = str(tmp_path / "withnull.parquet")
    null_row = base.limit(1).select(*[
        (F.lit(900001).cast("long") if c == "vec_id"
         else F.lit(None).cast(base.schema[c].dataType)).alias(c)
        for c in base.columns])
    base.unionByName(null_row).write.parquet(src)
    # index covers the non-null vectors (the reference's contract: a
    # vector index never holds null embeddings)
    idx_path = str(tmp_path / "null_ivf")
    build_ivf(spark.read.parquet(src).filter(
        F.col("embedding").isNotNull()), "embedding", "vec_id",
        n_clusters=8).save(idx_path)
    spark.read.parquet(src).createOrReplaceTempView("null_emb")
    qv = [float(x) for x in base.head().embedding]
    assert len(qv) == dim
    l2 = rt.l2_sq_sql("embedding", qv)
    q_default = f"SELECT vec_id FROM null_emb ORDER BY {l2} ASC LIMIT 5"
    q_last = (f"SELECT vec_id FROM null_emb ORDER BY {l2} "
              "ASC NULLS LAST LIMIT 5")
    try:
        rt.register_path(spark, src, "embedding", "clustered", idx_path,
                         id_col="vec_id")
        rt.enable(spark)
        df = spark.sql(q_default)
        assert "cluster#" not in _plan(df), "nulls-first ASC was routed"
        got = [r.vec_id for r in df.collect()]
        assert got[0] == 900001, "null vector must lead the exact result"
        assert "cluster#" in _plan(spark.sql(q_last))
    finally:
        rt.disable(spark)
        rt.clear(spark)
        spark.catalog.dropTempView("null_emb")


def test_routing_works_through_file_uri_paths(spark, sf_dir, tmp_path):
    """Registering with explicit ``file://`` URIs must route the same
    as bare local paths: all probe metadata I/O (centroid sidecars,
    directory signatures) goes through the Hadoop FileSystem API, the
    interface object-store deployments (s3a://, gs://) use — not
    java.io.File, which silently failed on any non-local URI."""
    if not rt.is_available(spark):
        pytest.skip("extension jar not on driver classpath")
    import deeplake_spark as dl

    ds = dl.from_parquet(f"{sf_dir}/documents.parquet",
                         str(tmp_path / "docs"), spark)
    ds.create_index("text", "inverted")
    emb = dl.from_parquet(f"{sf_dir}/embeddings.parquet",
                          str(tmp_path / "emb"), spark)
    emb.create_index("embedding", "clustered", n_clusters=8)
    # temp views over file:// URIs so the scan roots carry the scheme
    import glob

    docs_file = glob.glob(f"{ds.path}/data/*.parquet")[0]
    emb_file = glob.glob(f"{emb.path}/data/*.parquet")[0]
    spark.read.parquet(f"file://{docs_file}") \
        .createOrReplaceTempView("uri_docs")
    spark.read.parquet(f"file://{emb_file}") \
        .createOrReplaceTempView("uri_emb")
    qv = [float(x) for x in spark.sql(
        "SELECT embedding FROM uri_emb WHERE vec_id = 7"
    ).collect()[0].embedding]
    contains_q = CONTAINS_SQL.format(v="uri_docs")
    ann_q = ("SELECT vec_id FROM uri_emb ORDER BY "
             f"{rt.cosine_sql('embedding', qv)} DESC LIMIT 10")
    try:
        stock_contains = sorted(
            r.doc_id for r in spark.sql(contains_q).collect())
        stock_ann = [r.vec_id for r in spark.sql(ann_q).collect()]
        # register under file:// URIs too — both prefix matching and
        # sidecar reads must handle the scheme
        rt.register_path(spark, f"file://{ds.path}", "text", "inverted",
                         f"file://{ds.path}/_indexes/text_inverted",
                         "_row_id")
        rt.register_path(spark, f"file://{emb.path}", "embedding",
                         "clustered",
                         f"file://{emb.path}/_indexes/embedding_clustered",
                         "_row_id")
        rt.enable(spark)
        df = spark.sql(contains_q)
        assert "LeftSemi" in _plan(df), "file:// contains did not route"
        assert sorted(r.doc_id for r in df.collect()) == stock_contains
        ann = spark.sql(ann_q)
        assert "cluster#" in _plan(ann), "file:// ANN did not route"
        got = [r.vec_id for r in ann.collect()]
        assert len(set(got) & set(stock_ann)) / 10 >= 0.6
    finally:
        rt.disable(spark)
        rt.clear(spark)
        spark.catalog.dropTempView("uri_docs")
        spark.catalog.dropTempView("uri_emb")


def test_probe_scan_cache_is_bounded(spark, routed_ds):
    """The JVM probe-scan cache must stay bounded (LRU) no matter how
    many sessions/side tables a long-lived JVM serves — entries for
    dead sessions age out instead of pinning Datasets forever."""
    rt.register_dataset(routed_ds)
    rt.enable(spark)
    try:
        spark.sql(CONTAINS_SQL.format(v="routed_docs")).collect()
        rule = spark._jvm.io.deeplake.spark.ext.IndexRoutingRule
        assert rule.scanCacheSize() >= 1
        assert rule.scanCacheSize() <= rule.scanCacheCap() == 256
    finally:
        rt.disable(spark)


def test_malformed_ann_conf_falls_back_to_defaults(spark, ann_ds):
    """A malformed routing conf value must fall back to the default —
    never fail analysis of every query (the rule's stay-stock-on-
    failure convention)."""
    ds, qv = ann_ds
    rt.register_dataset(ds)
    rt.enable(spark)
    cos = rt.cosine_sql("embedding", qv)
    q = f"SELECT vec_id FROM ann_emb ORDER BY {cos} DESC LIMIT 10"
    for key in ("spark.sql.deeplake.routing.ann.maxK",
                "spark.sql.deeplake.routing.ann.nprobe",
                "spark.sql.deeplake.routing.ann.accuracyFactor"):
        spark.conf.set(key, "not-a-number")
        try:
            df = spark.sql(q)           # must plan, with defaults
            assert "cluster#" in _plan(df)
            assert len(df.collect()) == 10
        finally:
            spark.conf.unset(key)


def test_sql_filtered_ann_widens_probe(spark, tmp_path):
    """Filtered-ANN widening in the Catalyst rule: a routed top-k
    above a selective WHERE probes 1/selectivity more cells (estimated
    from the stats sidecars / the routed-semijoin gate bound), so the
    adversarial fixture — filtered rows living in cells far from the
    query — still returns the exact rows. With
    routing.ann.widenFiltered=false the unwidened route demonstrably
    misses them."""
    if not rt.is_available(spark):
        pytest.skip("extension jar not on driver classpath")
    import numpy as np

    import deeplake_spark as dl

    rng = np.random.default_rng(13)
    rows = []
    for i in range(1000):
        filt = i % 10 == 0
        v = rng.normal(0, 0.2, 8)
        v[0] += -10.0 if filt else 10.0
        rows.append((i, 1 if filt else 0, [float(x) for x in v]))
    df = spark.createDataFrame(
        rows, "vec_id long, grp long, embedding array<double>")
    src = str(tmp_path / "fembed.parquet")
    df.write.parquet(src)
    ds = dl.from_parquet(src, str(tmp_path / "fds"), spark)
    ds.create_index("embedding", "clustered", n_clusters=8)
    ds.create_index("grp", "numeric")
    ds.to_df().createOrReplaceTempView("fann_emb")
    qv = [10.0] + [0.0] * 7
    q = ("SELECT vec_id FROM fann_emb WHERE grp BETWEEN 1 AND 1 "
         f"ORDER BY {rt.cosine_sql('embedding', qv)} DESC LIMIT 5")
    try:
        exact = [r.vec_id for r in spark.sql(q).collect()]
        assert len(exact) == 5
        rt.register_dataset(ds)
        rt.enable(spark)
        spark.conf.unset(rt.MAX_SELECTIVITY_KEY)   # the gate bound feeds
        # the widening estimate — exercise the default
        routed = spark.sql(q)
        assert "cluster#" in _plan(routed)
        got = [r.vec_id for r in routed.collect()]
        assert len(set(got) & set(exact)) / 5 >= 0.6
        # without widening the route misses the far-cell candidates
        spark.conf.set("spark.sql.deeplake.routing.ann.widenFiltered",
                       "false")
        narrow = [r.vec_id for r in spark.sql(q).collect()]
        assert len(set(narrow) & set(exact)) / 5 < 0.6
    finally:
        rt.disable(spark)
        rt.clear(spark)
        spark.conf.unset("spark.sql.deeplake.routing.ann.widenFiltered")
        spark.conf.set(rt.MAX_SELECTIVITY_KEY, "1.0")  # autouse teardown
        spark.catalog.dropTempView("fann_emb")


def test_sql_widening_cap_declines_route(spark, tmp_path):
    """routing.ann.maxWidenFactor: when the filtered-search recall
    compensation would probe more than cap x the base cells, the
    Catalyst rule declines the rewrite — the stock exact plan (scan
    of the tiny filtered set) runs instead of a near-full-index probe
    plus rerank. Same fixture as the widening test; the 10% filter
    needs a full 8-cell probe (2x base), so cap=1 must bail and the
    default cap=8 must route."""
    if not rt.is_available(spark):
        pytest.skip("extension jar not on driver classpath")
    import numpy as np

    import deeplake_spark as dl

    rng = np.random.default_rng(19)
    rows = []
    for i in range(1000):
        filt = i % 10 == 0
        v = rng.normal(0, 0.2, 8)
        v[0] += -10.0 if filt else 10.0
        rows.append((i, 1 if filt else 0, [float(x) for x in v]))
    df = spark.createDataFrame(
        rows, "vec_id long, grp long, embedding array<double>")
    src = str(tmp_path / "wembed.parquet")
    df.write.parquet(src)
    ds = dl.from_parquet(src, str(tmp_path / "wds"), spark)
    ds.create_index("embedding", "clustered", n_clusters=8)
    ds.create_index("grp", "numeric")
    ds.to_df().createOrReplaceTempView("wcap_emb")
    qv = [10.0] + [0.0] * 7
    q = ("SELECT vec_id FROM wcap_emb WHERE grp BETWEEN 1 AND 1 "
         f"ORDER BY {rt.cosine_sql('embedding', qv)} DESC LIMIT 5")
    try:
        exact = {r.vec_id for r in spark.sql(q).collect()}
        assert len(exact) == 5
        rt.register_dataset(ds)
        rt.enable(spark)
        spark.conf.unset(rt.MAX_SELECTIVITY_KEY)
        assert "cluster#" in _plan(spark.sql(q))   # default cap routes
        spark.conf.set(
            "spark.sql.deeplake.routing.ann.maxWidenFactor", "1")
        capped = spark.sql(q)
        assert "cluster#" not in _plan(capped)
        assert {r.vec_id for r in capped.collect()} == exact
    finally:
        rt.disable(spark)
        rt.clear(spark)
        spark.conf.unset("spark.sql.deeplake.routing.ann.maxWidenFactor")
        spark.conf.set(rt.MAX_SELECTIVITY_KEY, "1.0")  # autouse teardown
        spark.catalog.dropTempView("wcap_emb")


def test_probe_scan_cache_sees_index_deltas(spark, sf_dir, tmp_path):
    """The JVM-side probe scan cache (per-(session,path), directory
    mtime/size signature) must invalidate when the index gains delta
    files: rows appended after registration (indexing_mode automatic
    appends postings) must be findable through the ROUTED plan."""
    if not rt.is_available(spark):
        pytest.skip("extension jar not on driver classpath")
    import time

    import deeplake_spark as dl

    ds = dl.from_parquet(f"{sf_dir}/documents.parquet",
                         str(tmp_path / "docs"), spark)
    ds.create_index("text", "inverted")
    ds.as_sql_view("cache_docs")
    q = ("SELECT doc_id FROM cache_docs WHERE "
         "array_contains(split(lower(text), '\\\\s+'), 'zanzibar')")
    try:
        df = spark.sql(q)
        assert "LeftSemi" in _plan(df)
        assert df.count() == 0          # fills the probe cache
        time.sleep(1.05)                # mtime granularity
        ds.append(spark.createDataFrame(
            [(9_000_001, "totally zanzibar content", "xx", "synth", 24)],
            "doc_id long, text string, lang string, source string, "
            "n_chars long"))
        ds.commit()
        ds.as_sql_view("cache_docs")    # re-register the new snapshot
        got = [r.doc_id for r in spark.sql(q).collect()]
        assert got == [9_000_001], got  # stale cache would return []
    finally:
        rt.disable(spark)
        rt.clear(spark)
        spark.catalog.dropTempView("cache_docs")


@pytest.fixture()
def clustered_sql_docs(spark, tmp_path):
    """Id-sorted multi-row-group corpus whose ids i * 8 spread over 25
    RANGE_GRANULE blocks, with a clustered 5% term ('xclust', one
    contiguous id slice over granules 6 and 7) and a uniform 5% term
    ('sparse') — the two regimes of probe→row-group pruning."""
    if not rt.is_available(spark):
        pytest.skip("extension jar not on driver classpath")
    from deeplake_spark.operators.indexes import build_inverted_index

    docs = (spark.range(200_000)
            .select((F.col("id") * 8).alias("doc_id"), F.concat(
                F.lit("alpha beta gamma"),
                F.when((F.col("id") >= 50_000) & (F.col("id") < 60_000),
                       F.lit(" xclust")).otherwise(F.lit("")),
                F.when(F.col("id") % 20 == 0,
                       F.lit(" sparse")).otherwise(F.lit("")),
            ).alias("text")))
    path = str(tmp_path / "csql.parquet")
    (docs.repartitionByRange(8, "doc_id").sortWithinPartitions("doc_id")
     .write.option("parquet.block.size", 256 * 1024).parquet(path))
    d = spark.read.parquet(path)
    ip = str(tmp_path / "csqlidx")
    build_inverted_index(d, "text", "doc_id").save(ip)
    d.createOrReplaceTempView("csql_docs")
    rt.register_path(spark, path, "text", "inverted", ip, "doc_id")
    rt.enable(spark)
    try:
        yield d
    finally:
        rt.disable(spark)
        rt.clear(spark)
        spark.catalog.dropTempView("csql_docs")


def _csql(term):
    return ("SELECT doc_id FROM csql_docs WHERE "
            f"array_contains(split(lower(text), '\\\\s+'), '{term}')")


def test_sql_route_pushes_probe_ranges_to_corpus_scan(spark,
                                                      clustered_sql_docs):
    """The Catalyst rule's routed CONTAINS carries the probe's row-id
    ranges as pushed literal filters on the corpus scan (row-group
    skip — the reference's bitmap→chunk reads); uniform-term probes
    whose ranges span the corpus are coverage-gated back to the plain
    semijoin; rows identical to stock in both regimes."""
    from tests.test_indexes import pushed_ranges

    routed = spark.sql(_csql("xclust"))
    phys = routed._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThanOrEqual(doc_id,400000)" in phys, phys[:2000]
    assert pushed_ranges(routed, "doc_id") == \
        [(400_000, 458_744), (458_752, 479_992)]
    assert sorted(r.doc_id for r in routed.collect()) == \
        list(range(400_000, 480_000, 8))

    uniform = spark.sql(_csql("sparse"))
    uphys = uniform._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in _plan(uniform)
    assert "GreaterThanOrEqual(doc_id" not in uphys
    assert uniform.count() == 10_000

    rt.disable(spark)
    assert sorted(r.doc_id for r in spark.sql(_csql("xclust")).collect()) \
        == list(range(400_000, 480_000, 8))


def test_sql_range_cache_bounds_plan_time_jobs(spark, clustered_sql_docs):
    """Re-planning the same probe must hit the JVM range memo, not
    re-run the granule job per query (bounded-LRU, manifest
    keyed — the SCAN_CACHE discipline). rangeJobsRun() counts actual
    memo misses, so deleting the cache lookup fails this."""
    jvm = spark._jvm.io.deeplake.spark.ext.IndexRoutingRule
    spark.sql(_csql("xclust"))._jdf.queryExecution().optimizedPlan()
    j0 = jvm.rangeJobsRun()
    for _ in range(3):
        spark.sql(_csql("xclust"))._jdf.queryExecution().optimizedPlan()
    assert jvm.rangeJobsRun() == j0
    # the memo is bounded the same way the probe scan cache is
    assert jvm.scanCacheCap() == 256


def test_sql_contains_range_job_reads_granule_table(spark,
                                                   clustered_sql_docs):
    """The Catalyst rule's token-CONTAINS range summary reads the
    index's build-time `granules` table, bucket- and term-pruned —
    O(granules) rows, like the TQL route — and never the O(df)
    postings. Seen from the SQL executions the planning starts: the
    one range job scans (term, lo, hi), no `row_id`."""
    jvm = spark._jvm.io.deeplake.spark.ext.IndexRoutingRule
    sc = spark.sparkContext._jsc.sc()
    store = spark._jsparkSession.sharedState().statusStore()

    def last_id():
        sc.listenerBus().waitUntilEmpty()
        n = store.executionsCount()
        return store.executionsList(n - 1, 1).apply(0).executionId() \
            if n else -1

    seen = last_id()
    j0 = jvm.rangeJobsRun()
    routed = spark.sql(_csql("xclust"))
    routed._jdf.queryExecution().optimizedPlan()
    assert jvm.rangeJobsRun() == j0 + 1
    last_id()
    n = store.executionsCount()
    execs = store.executionsList(max(0, n - 20), 20)
    plans = [execs.apply(i).physicalPlanDescription()
             for i in range(execs.size())
             if execs.apply(i).executionId() > seen]
    assert len(plans) == 1, plans
    assert "lo:bigint,hi:bigint" in plans[0], plans[0]
    assert "row_id" not in plans[0], plans[0]
    assert "LeftSemi" in _plan(routed)


def test_range_merge_matches_python(spark):
    """Past MAX_RANGES the JVM rule merges ranges across the same gaps
    as indexes.coalesce_id_ranges, ties included: 70 equally spaced
    granule rows leave 69 equal gaps, and both keep the 63 latest."""
    from deeplake_spark.operators.indexes import (
        RANGE_GRANULE,
        coalesce_id_ranges,
    )

    if not rt.is_available(spark):
        pytest.skip("extension jar not on driver classpath")
    gw = spark.sparkContext._gateway
    jvm = gw.jvm
    rows = [(g * RANGE_GRANULE, g * RANGE_GRANULE + 9) for g in range(70)]
    bounds = jvm.java.util.ArrayList()
    for lo, hi in rows:
        pair = gw.new_array(jvm.long, 2)
        pair[0], pair[1] = lo, hi
        bounds.add(pair)
    params = gw.new_array(jvm.java.lang.Class, 1)
    params[0] = jvm.java.lang.Class.forName("java.util.List")
    merge = jvm.java.lang.Class.forName(
        "io.deeplake.spark.ext.IndexRoutingRule").getDeclaredMethod(
        "coalesceRanges", params)
    merge.setAccessible(True)
    args = gw.new_array(jvm.java.lang.Object, 1)
    args[0] = bounds
    got = [(int(r[0]), int(r[1])) for r in merge.invoke(None, args)]
    assert got == coalesce_id_ranges(rows) and len(got) == 64
    assert got[0] == (0, 6 * RANGE_GRANULE + 9)  # the 6 earliest gaps merge


def test_sql_and_tql_push_the_same_ranges(spark, tmp_path):
    """Differential: on an id-sorted corpus spanning three RANGE_GRANULE
    blocks, token-CONTAINS and BETWEEN push the same row-id range
    literals onto the corpus scan through ``ds.query`` (Catalyst rule
    disabled, so only the TQL translator routes) and through
    ``spark.sql`` over ``as_sql_view`` — the two front ends summarize
    the same granule rows with the same constants — and return the
    same rows as the stock filter."""
    if not rt.is_available(spark):
        pytest.skip("extension jar not on driver classpath")
    import deeplake_spark as dl
    from tests.test_indexes import pushed_ranges

    n = 140_000
    src = str(tmp_path / "diff.parquet")
    (spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when((F.col("id") >= 60_000) & (F.col("id") < 80_000),
               F.lit("alpha xclust")).otherwise(F.lit("alpha beta"))
        .alias("text"),
        (F.col("id") / 10).cast("long").alias("n"))
     .coalesce(1).write.parquet(src))
    ds = dl.from_parquet(src, str(tmp_path / "diff_ds"), spark)
    ds.create_index("text", "inverted")
    ds.create_index("n", "numeric")
    try:
        ds.as_sql_view("diff_docs")
        for where, sql_where in (
                ("CONTAINS(text, 'xclust')",
                 "array_contains(split(lower(text), '\\\\s+'), 'xclust')"),
                ("n BETWEEN 10000 AND 12999",
                 "n BETWEEN 10000 AND 12999")):
            rt.disable(spark)
            tql_df = ds.query(f"SELECT doc_id WHERE {where}").df
            tql_ranges = pushed_ranges(tql_df, "_row_id")
            tql_rows = sorted(r.doc_id for r in tql_df.collect())
            stock = sorted(r.doc_id for r in spark.sql(
                f"SELECT doc_id FROM diff_docs WHERE {sql_where}").collect())
            rt.enable(spark)
            sql_df = spark.sql(
                f"SELECT doc_id FROM diff_docs WHERE {sql_where}")
            assert "LeftSemi" in _plan(sql_df), where
            assert tql_ranges and pushed_ranges(sql_df, "_row_id") == \
                tql_ranges, where
            covered = sum(hi - lo + 1 for lo, hi in tql_ranges)
            assert covered < n // 4, (where, tql_ranges)
            assert sorted(r.doc_id for r in sql_df.collect()) == \
                tql_rows == stock and stock, where
    finally:
        rt.disable(spark)
        rt.clear(spark)
        for v in ("diff_docs", "diff_docs__postings", "diff_docs__doclens",
                  "diff_docs__stats", "diff_docs__granules"):
            spark.catalog.dropTempView(v)


def test_sql_id_column_predicates_never_route(spark, sf_dir, tmp_path):
    """A BETWEEN on the registered ROW-ID column stays stock even with
    a numeric index whose id_col IS that column: parquet min/max on the
    id-sorted layout already serves it, and the guard keeps the rule's
    own synthetic range filters inert at the resolution fixed point."""
    if not rt.is_available(spark):
        pytest.skip("extension jar not on driver classpath")
    from deeplake_spark.operators.indexes import build_numeric_index

    src = f"{sf_dir}/documents.parquet"
    d = spark.read.parquet(src)
    ip = str(tmp_path / "idcolidx")
    build_numeric_index(d, "doc_id", id_col="doc_id").save(ip)
    d.createOrReplaceTempView("idcol_docs")
    rt.register_path(spark, src, "doc_id", "numeric", ip, "doc_id")
    rt.enable(spark)
    try:
        q = "SELECT doc_id FROM idcol_docs WHERE doc_id BETWEEN 5 AND 25"
        df = spark.sql(q)
        assert "LeftSemi" not in _plan(df)
        assert sorted(r.doc_id for r in df.collect()) == \
            sorted(r.doc_id for r in
                   d.filter(F.col("doc_id").between(5, 25)).collect())
    finally:
        rt.disable(spark)
        rt.clear(spark)
        spark.catalog.dropTempView("idcol_docs")


def test_sql_ann_route_pushes_probe_ranges_for_clustered_cells(
        spark, tmp_path):
    """When cluster membership correlates with ingest order (content
    drift: similar vectors arrive together), the ANN route's
    cluster-pruned candidate ids coalesce into tight id ranges pushed
    onto the corpus scan — parquet min/max skips the row groups the
    rerank can never keep (the reference's bitmap→chunk reads apply to
    ANN probes too, index_holder.hpp:37-40). Coverage-gated on the
    persisted corpus size; rows stay the exact top-k. Ids i * 4 spread
    the corpus over 2 RANGE_GRANULE blocks; one probed cell keeps the
    candidates to an eighth of it, below the coverage gate."""
    if not rt.is_available(spark):
        pytest.skip("extension jar not on driver classpath")
    from deeplake_spark.operators.similarity import build_ivf
    from tests.test_indexes import pushed_ranges

    n, g = 32_000, 4_000  # 8 contiguous id groups, one direction each
    e = spark.range(n).select(
        (F.col("id") * 4).alias("vec_id"), F.expr(
            f"transform(sequence(0, 7), j -> CASE WHEN j = "
            f"CAST(id DIV {g} AS INT) THEN 1.0D + "
            "0.001D * CAST(id % 13 AS DOUBLE) ELSE "
            "0.001D * CAST((id + j) % 17 AS DOUBLE) END)")
        .alias("embedding"))
    path = str(tmp_path / "clustemb.parquet")
    (e.repartitionByRange(4, "vec_id").sortWithinPartitions("vec_id")
     .write.option("parquet.block.size", 128 * 1024).parquet(path))
    d = spark.read.parquet(path)
    ip = str(tmp_path / "clustivf")
    build_ivf(d, vec_col="embedding", id_col="vec_id",
              n_clusters=8, seed=7).save(ip)
    d.createOrReplaceTempView("clust_emb")
    rt.register_path(spark, path, "embedding", "clustered", ip, "vec_id")
    qv = [1.0] + [0.0] * 7
    q = ("SELECT vec_id FROM clust_emb ORDER BY "
         f"{rt.cosine_sql('embedding', qv)} DESC LIMIT 10")
    want = sorted(r.vec_id for r in spark.sql(q).collect())
    rt.enable(spark)
    spark.conf.set("spark.sql.deeplake.routing.ann.nprobe", "1")
    spark.conf.set("spark.sql.deeplake.routing.ann.accuracyFactor", "1")
    try:
        df = spark.sql(q)
        plan = _plan(df)
        assert "LeftSemi" in plan
        phys = df._jdf.queryExecution().executedPlan().toString()
        assert "GreaterThanOrEqual(vec_id" in phys, phys[:3000]
        # the probed cell is group 0: ids [0, 4 * (g - 1)]
        assert pushed_ranges(df, "vec_id") == [(0, 4 * (g - 1))]
        assert sorted(r.vec_id for r in df.collect()) == want
    finally:
        rt.disable(spark)
        rt.clear(spark)
        for key in ("spark.sql.deeplake.routing.ann.nprobe",
                    "spark.sql.deeplake.routing.ann.accuracyFactor"):
            spark.conf.unset(key)
        spark.catalog.dropTempView("clust_emb")

    # the pq (IVFADC) kind prunes through its codes table identically
    from deeplake_spark.operators.similarity import build_pq

    pp = str(tmp_path / "clustpq")
    build_pq(d, "embedding", "vec_id", m=4, nbits=4,
             n_clusters=8, seed=7).save(pp)
    d.createOrReplaceTempView("clust_emb_pq")
    rt.register_path(spark, path, "embedding", "pq", pp, "vec_id")
    rt.enable(spark)
    spark.conf.set("spark.sql.deeplake.routing.ann.nprobe", "1")
    spark.conf.set("spark.sql.deeplake.routing.ann.accuracyFactor", "1")
    try:
        df2 = spark.sql("SELECT vec_id FROM clust_emb_pq ORDER BY "
                        f"{rt.cosine_sql('embedding', qv)} DESC LIMIT 10")
        phys2 = df2._jdf.queryExecution().executedPlan().toString()
        assert "GreaterThanOrEqual(vec_id" in phys2, phys2[:3000]
        assert pushed_ranges(df2, "vec_id") == [(0, 4 * (g - 1))]
        assert sorted(r.vec_id for r in df2.collect()) == want
    finally:
        rt.disable(spark)
        rt.clear(spark)
        for key in ("spark.sql.deeplake.routing.ann.nprobe",
                    "spark.sql.deeplake.routing.ann.accuracyFactor"):
            spark.conf.unset(key)
        spark.catalog.dropTempView("clust_emb_pq")


def test_sql_id_column_routes_when_range_prune_off(spark, sf_dir, tmp_path):
    """With rangePrune=false — the documented kill switch for layouts
    that are NOT id-sorted, where parquet min/max can't serve id
    predicates — an id-column BETWEEN may route through its numeric
    index: the rule emits no synthetic range filters, so the
    fixed-point hazard the isIdCol guard protects against is gone."""
    if not rt.is_available(spark):
        pytest.skip("extension jar not on driver classpath")
    from deeplake_spark.operators.indexes import build_numeric_index

    src = f"{sf_dir}/documents.parquet"
    d = spark.read.parquet(src)
    ip = str(tmp_path / "idcolidx2")
    build_numeric_index(d, "doc_id", id_col="doc_id").save(ip)
    d.createOrReplaceTempView("idcol_docs2")
    rt.register_path(spark, src, "doc_id", "numeric", ip, "doc_id")
    rt.enable(spark)
    spark.conf.set("spark.sql.deeplake.routing.rangePrune", "false")
    try:
        q = "SELECT doc_id FROM idcol_docs2 WHERE doc_id BETWEEN 5 AND 25"
        df = spark.sql(q)
        assert "LeftSemi" in _plan(df)
        assert sorted(r.doc_id for r in df.collect()) == \
            sorted(r.doc_id for r in
                   d.filter(F.col("doc_id").between(5, 25)).collect())
    finally:
        spark.conf.unset("spark.sql.deeplake.routing.rangePrune")
        rt.disable(spark)
        rt.clear(spark)
        spark.catalog.dropTempView("idcol_docs2")


def test_sql_corpus_floor_declines_cheap_routes(spark, routed_ds):
    """Corpus-size cost floor in the Catalyst rule (the scan-cost term
    of the reference's pg_costestimate, index_search.cpp:247-420):
    below routing.minCorpusRows the numeric BETWEEN/equality rewrites
    decline — the stock pushed-down compare wins on small corpora
    (SCALING.md BETWEEN x1: routed loses 2x) — while token-CONTAINS is
    exempt (its stock scan pays a per-row tokenize; routed wins 3-7x
    from x32 up). Under the DEFAULT floor (200k rows) this
    500-row fixture also stays stock, pinning the default's polarity."""
    rt.register_dataset(routed_ds)
    rt.enable(spark)
    between = ("SELECT doc_id FROM routed_docs "
               "WHERE n_chars BETWEEN 100 AND 200")
    equality = "SELECT doc_id FROM routed_docs WHERE n_chars = 150"
    contains = CONTAINS_SQL.format(v="routed_docs")
    tql_between = "n_chars BETWEEN 100 AND 200"
    tql_contains = "CONTAINS(text, 'spark')"
    try:
        spark.conf.set(rt.MIN_CORPUS_ROWS_KEY, "1000000")
        assert "LeftSemi" not in _plan(spark.sql(between))
        assert "LeftSemi" not in _plan(spark.sql(equality))
        assert "LeftSemi" in _plan(spark.sql(contains))   # floor-exempt
        stock = sorted(r.doc_id for r in spark.sql(between).collect())
        # the TQL front end declines and routes the same way, same rows
        assert _tql_decision(spark, routed_ds, tql_between) == \
            (False, stock)
        rows = sorted(r.doc_id for r in spark.sql(contains).collect())
        assert _tql_decision(spark, routed_ds, tql_contains) == \
            (True, rows)

        spark.conf.unset(rt.MIN_CORPUS_ROWS_KEY)          # default 200k
        assert "LeftSemi" not in _plan(spark.sql(between))
        assert _tql_decision(spark, routed_ds, tql_between) == \
            (False, stock)

        spark.conf.set(rt.MIN_CORPUS_ROWS_KEY, "1")
        routed = spark.sql(between)
        assert "LeftSemi" in _plan(routed)
        assert sorted(r.doc_id for r in routed.collect()) == stock
        assert stock, "fixture carries no signal"
        assert _tql_decision(spark, routed_ds, tql_between) == \
            (True, stock)
    finally:
        # the test session runs floor-less (conftest) — restore that
        spark.conf.set(rt.MIN_CORPUS_ROWS_KEY, "0")


def test_sql_fetchback_pushes_probe_ranges(spark, tmp_path):
    """Jar-independent SQL fetch-back (round 10): `fetch_cols` joins
    the BM25 / hybrid winners back to the corpus view, and with a
    session given the corpus scan carries LITERAL row-id ranges
    computed at statement-build time — BM25 winners ⊆ term-probe ids;
    hybrid winners ⊆ (term-probe ids ∪ vector top-n ids), so each
    statement pushes its sound superset (the reference materializes
    results through chunk-granular bitmap reads too,
    index_holder.hpp:37-40). Rows must equal the non-fetch statement
    joined to the corpus, with and without the prefilter."""
    import math

    from deeplake_spark.operators.indexes import build_inverted_index

    n = 400
    rows = []
    for i in range(n):
        text = f"filler{i % 7} common words here"
        if 10 <= i < 20:
            text += " needlezz"
        # ids 0..49 cluster near the query vector; the rest orthogonal
        vec = [1.0, 0.01 * i, 0.0] if i < 50 else [0.0, 0.1, 1.0 + i % 3]
        rows.append((i, text, vec))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, embedding array<double>")
    corpus_path = str(tmp_path / "corpus.parquet")
    (df.repartitionByRange(4, "doc_id").sortWithinPartitions("doc_id")
     .write.parquet(corpus_path))
    corpus = spark.read.parquet(corpus_path)
    corpus.createOrReplaceTempView("fb_docs")
    idx_path = str(tmp_path / "fb_idx")
    build_inverted_index(corpus, "text", "doc_id").save(idx_path)
    rt.register_index_views(spark, "fb_docs", idx_path)
    qv = [1.0, 0.25, 0.0]
    text_of = {r.doc_id: r.text for r in corpus.collect()}
    try:
        # --- BM25 fetch-back ---
        base = [(r.doc_id, r.score) for r in spark.sql(
            rt.bm25_topk_sql("fb_docs", ["needlezz"], k=5)).collect()]
        assert base, "fixture carries no signal"
        want = [(d, text_of[d], s) for d, s in base]
        fq = rt.bm25_topk_sql("fb_docs", ["needlezz"], k=5,
                              fetch_cols=["doc_id", "text"],
                              id_col="doc_id", spark=spark)
        fdf = spark.sql(fq)
        assert [(r.doc_id, r.text, r.score) for r in fdf.collect()] == want
        phys = fdf._jdf.queryExecution().executedPlan().toString()
        assert "GreaterThanOrEqual(doc_id" in phys, phys[:2000]
        # without a session: same rows, no prefilter
        nq = rt.bm25_topk_sql("fb_docs", ["needlezz"], k=5,
                              fetch_cols=["doc_id", "text"],
                              id_col="doc_id")
        ndf = spark.sql(nq)
        assert [(r.doc_id, r.text, r.score) for r in ndf.collect()] == want
        assert "GreaterThanOrEqual(doc_id" not in \
            ndf._jdf.queryExecution().executedPlan().toString()

        # --- hybrid fetch-back ---
        hbase = [(r.doc_id, round(r.fused, 9)) for r in spark.sql(
            rt.hybrid_search_sql("fb_docs", ["needlezz"], qv, k=5, n=20,
                                 vec_col="embedding", id_col="doc_id",
                                 text_weight=0.1, vec_weight=0.9)
        ).collect()]
        assert hbase and not math.isnan(hbase[0][1])
        hwant = [(d, text_of[d], f) for d, f in hbase]
        hq = rt.hybrid_search_sql("fb_docs", ["needlezz"], qv, k=5, n=20,
                                  vec_col="embedding", id_col="doc_id",
                                  text_weight=0.1, vec_weight=0.9,
                                  fetch_cols=["doc_id", "text"],
                                  spark=spark)
        hdf = spark.sql(hq)
        assert [(r.doc_id, r.text, round(r.fused, 9))
                for r in hdf.collect()] == hwant
        hphys = hdf._jdf.queryExecution().executedPlan().toString()
        assert "GreaterThanOrEqual(doc_id" in hphys, hphys[:2000]
        # a vector-only winner OUTSIDE the bm25 term band [10, 20)
        # must survive the prefilter (the union bound makes it sound)
        assert any(not 10 <= d < 20 for d, _, _ in hwant), hwant

        # pruning conf off: no plan-time job, no prefilter, same rows
        spark.conf.set("spark.sql.deeplake.routing.rangePrune", "false")
        oq = rt.hybrid_search_sql("fb_docs", ["needlezz"], qv, k=5, n=20,
                                  vec_col="embedding", id_col="doc_id",
                                  text_weight=0.1, vec_weight=0.9,
                                  fetch_cols=["doc_id", "text"],
                                  spark=spark)
        odf = spark.sql(oq)
        assert [(r.doc_id, r.text, round(r.fused, 9))
                for r in odf.collect()] == hwant
        assert "GreaterThanOrEqual(doc_id" not in \
            odf._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.unset("spark.sql.deeplake.routing.rangePrune")
        for v in ("fb_docs", "fb_docs__postings", "fb_docs__doclens",
                  "fb_docs__stats"):
            spark.catalog.dropTempView(v)


def test_sql_fetchback_execute_routed(spark, tmp_path):
    """Round-11 soundness fix: when a clustered/pq registration covers
    the view, hybrid_search_sql must NOT push build-time fetch-back
    ranges — at execution the statement's ``__vl`` lane can ANN-route
    (approximate), and approximate winners need not fall inside the
    exact build-time mirror's ranges; the frozen BETWEEN prefilter
    would then silently drop fused winners at the fetch-back join.
    Pins: (a) built statement carries no prefilter while the ANN
    registration exists, (b) executing it WITH routing enabled returns
    exactly the routed non-fetch winners joined to the corpus, (c)
    after unregistering, the prefilter comes back (pruning isn't lost
    where it IS sound)."""
    if not rt.is_available(spark):
        pytest.skip("extension jar not on driver classpath")
    from deeplake_spark.operators.indexes import build_inverted_index
    from deeplake_spark.operators.similarity import build_ivf

    n = 400
    rows = []
    for i in range(n):
        text = f"filler{i % 7} common words here"
        if 10 <= i < 20:
            text += " needlezz"
        vec = [1.0, 0.01 * i, 0.0] if i < 50 else [0.0, 0.1, 1.0 + i % 3]
        rows.append((i, text, vec))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, embedding array<double>")
    corpus_path = str(tmp_path / "corpus.parquet")
    (df.repartitionByRange(4, "doc_id").sortWithinPartitions("doc_id")
     .write.parquet(corpus_path))
    corpus = spark.read.parquet(corpus_path)
    corpus.createOrReplaceTempView("fr_docs")
    idx_path = str(tmp_path / "fr_idx")
    build_inverted_index(corpus, "text", "doc_id").save(idx_path)
    rt.register_index_views(spark, "fr_docs", idx_path)
    ivf_path = str(tmp_path / "fr_ivf")
    build_ivf(corpus, "embedding", "doc_id", n_clusters=4).save(ivf_path)
    qv = [1.0, 0.25, 0.0]
    text_of = {r.doc_id: r.text for r in corpus.collect()}
    kw = dict(k=5, n=20, vec_col="embedding", id_col="doc_id",
              text_weight=0.1, vec_weight=0.9)
    try:
        rt.register_path(spark, corpus_path, "embedding", "clustered",
                         ivf_path, id_col="doc_id")
        rt.enable(spark)
        hq = rt.hybrid_search_sql("fr_docs", ["needlezz"], qv,
                                  fetch_cols=["doc_id", "text"],
                                  spark=spark, **kw)
        # (a) ANN registration covers the view -> builder declined
        assert "BETWEEN" not in hq, hq
        # (b) execute-routed parity: the prefilter-free fetch-back must
        # return the routed winners exactly (whatever cells were probed)
        base = [(r.doc_id, round(r.fused, 9)) for r in spark.sql(
            rt.hybrid_search_sql("fr_docs", ["needlezz"], qv, **kw)
        ).collect()]
        assert base
        got = [(r.doc_id, r.text, round(r.fused, 9))
               for r in spark.sql(hq).collect()]
        assert got == [(d, text_of[d], f) for d, f in base]
        # (c) no ANN registration -> the sound prefilter comes back
        rt.clear(spark)
        pq = rt.hybrid_search_sql("fr_docs", ["needlezz"], qv,
                                  fetch_cols=["doc_id", "text"],
                                  spark=spark, **kw)
        assert "BETWEEN" in pq, pq
    finally:
        rt.disable(spark)
        rt.clear(spark)
        for v in ("fr_docs", "fr_docs__postings", "fr_docs__doclens",
                  "fr_docs__stats"):
            spark.catalog.dropTempView(v)


def test_sql_ann_corpus_relative_k_ceiling(spark, ann_ds):
    """Corpus-relative ANN k ceiling (round 10): IVF recall@k decays
    with k on a fixed-fraction probe (measured 0.925@10 → 0.637@1000
    at 128k vectors, SCALING.md), so besides the absolute ann.maxK the
    route declines when k exceeds ann.maxKFrac (default 0.001) of the
    index's persisted corpus size — the stock exact plan (recall 1.0)
    runs instead. Plan pair on a ~2k-row corpus: k=10 routes at
    frac=1.0 and at frac=10/n, declines at the default 0.1% (ceiling
    = 2) and at frac just under 10/n; rows stay exact either way."""
    ds, qv = ann_ds
    frac_key = "spark.sql.deeplake.routing.ann.maxKFrac"
    q = ("SELECT vec_id FROM ann_emb ORDER BY "
         f"{rt.cosine_sql('embedding', qv)} DESC LIMIT 10")
    rt.register_dataset(ds)
    n = ds.to_df().count()
    assert n >= 20, "fixture too small for the boundary pair"
    exact = [r.vec_id for r in spark.sql(q).collect()]  # routing off: exact
    rt.enable(spark)
    try:
        assert "cluster#" in _plan(spark.sql(q))        # frac=1.0: routed
        # exactly at the boundary: k == frac*n routes
        spark.conf.set(frac_key, str(10 / n))
        assert "cluster#" in _plan(spark.sql(q))
        # just under: ceiling = 9 < k -> stock exact
        spark.conf.set(frac_key, str(9.5 / n))
        assert "cluster#" not in _plan(spark.sql(q))
        assert [r.vec_id for r in spark.sql(q).collect()] == exact
        # the DEFAULT frac declines k=10 on a corpus this small
        spark.conf.unset(frac_key)
        assert "cluster#" not in _plan(spark.sql(q))
        # frac=0 disables the relative ceiling (absolute maxK only)
        spark.conf.set(frac_key, "0")
        assert "cluster#" in _plan(spark.sql(q))
    finally:
        spark.conf.set(frac_key, "1.0")  # the test session's default
        rt.disable(spark)


def test_sql_fetchback_build_mirror_is_exact_under_routing(spark, tmp_path):
    """Round-10 review hazard, resolved by the round-11 decline: hybrid
    fetch-back ranges come from a build-time mirror of the __vl vector
    lane, but a clustered registration means the EXECUTED __vl can ANN-
    route — approximate winners need not fall inside any exact mirror's
    frozen ranges. The builder therefore declines the prefilter
    entirely while an ANN registration covers the view (commit
    27854d1; test_sql_fetchback_execute_routed pins the routed-execute
    parity). This test pins the build-session hygiene side: building
    on a routed session leaves the routing conf restored, the built
    statement carries NO frozen prefilter, executing it unrouted
    matches the plain unrouted build, and after rt.clear() the sound
    prefilter returns (pruning isn't lost where it IS sound)."""
    if not rt.is_available(spark):
        pytest.skip("extension jar not on driver classpath")
    from deeplake_spark.operators.indexes import build_inverted_index
    from deeplake_spark.operators.similarity import build_ivf

    n = 400
    rows = []
    for i in range(n):
        text = f"filler{i % 7} words here" + (" needlezz" if 10 <= i < 20
                                              else "")
        vec = [1.0, 0.01 * i, 0.0] if i < 50 else [0.0, 0.1, 1.0 + i % 3]
        rows.append((i, text, vec))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, embedding array<double>")
    corpus_path = str(tmp_path / "corpus.parquet")
    (df.repartitionByRange(4, "doc_id").sortWithinPartitions("doc_id")
     .write.parquet(corpus_path))
    corpus = spark.read.parquet(corpus_path)
    corpus.createOrReplaceTempView("mir_docs")
    build_inverted_index(corpus, "text", "doc_id").save(
        str(tmp_path / "inv"))
    rt.register_index_views(spark, "mir_docs", str(tmp_path / "inv"))
    build_ivf(corpus, "embedding", "doc_id", n_clusters=8).save(
        str(tmp_path / "ivf"))
    qv = [1.0, 0.25, 0.0]
    kw = dict(k=5, n=20, vec_col="embedding", id_col="doc_id",
              text_weight=0.1, vec_weight=0.9,
              fetch_cols=["doc_id", "text"])
    try:
        # route-enabled build session (the hazard's precondition)
        rt.register_path(spark, corpus_path, "embedding", "clustered",
                         str(tmp_path / "ivf"), "doc_id")
        rt.enable(spark)
        routed_built = rt.hybrid_search_sql(
            "mir_docs", ["needlezz"], qv, spark=spark, **kw)
        assert spark.conf.get(rt.ENABLED_KEY) == "true", \
            "builder must restore the routing conf"
        # ANN registration covers the view -> the builder DECLINED the
        # frozen prefilter (round-11 soundness: the executed __vl may
        # ANN-route, and approximate winners can land outside any
        # exact mirror's ranges)
        assert "BETWEEN" not in routed_built, routed_built
        # execute UNROUTED (the jar-independent contract)
        rt.disable(spark)
        want = [(r.doc_id, r.text, round(r.fused, 9)) for r in spark.sql(
            rt.hybrid_search_sql("mir_docs", ["needlezz"], qv, **kw)
        ).collect()]
        got = [(r.doc_id, r.text, round(r.fused, 9))
               for r in spark.sql(routed_built).collect()]
        assert got == want and got
        # pruning isn't lost where it IS sound: with the ANN
        # registration gone, the rebuilt statement pushes ranges again
        rt.clear(spark)
        sound_built = rt.hybrid_search_sql(
            "mir_docs", ["needlezz"], qv, spark=spark, **kw)
        assert "BETWEEN" in sound_built, sound_built
        assert "GreaterThanOrEqual(doc_id" in spark.sql(sound_built) \
            ._jdf.queryExecution().executedPlan().toString()
    finally:
        rt.disable(spark)
        rt.clear(spark)
        for v in ("mir_docs", "mir_docs__postings", "mir_docs__doclens",
                  "mir_docs__stats"):
            spark.catalog.dropTempView(v)


def test_route_proof_term_is_sign_preserving(spark):
    """r14 advice #3: the route-proof no-op appended to the __vl score
    must be value-identical for EVERY double, including -0.0 — the
    emitted statement is engine-portable SQL, and DuckDB's ROUND keeps
    -0.0 where Spark's normalizes it, so `+ 0.0 * id` (which maps
    -0.0 to +0.0) was a value-visible rewrite there. The spelling is
    `- 0.0 * abs(id)`: x - (+0.0) preserves the sign of zero, and
    abs() keeps the multiplier +0.0 even for negative ids."""
    import math

    import duckdb

    r = spark.sql(
        "SELECT CAST('-0.0' AS DOUBLE) - 0.0 * abs(5) a,"
        "       CAST('-0.0' AS DOUBLE) - 0.0 * abs(-7) b").collect()[0]
    assert math.copysign(1, r.a) == -1.0
    assert math.copysign(1, r.b) == -1.0
    da, db = duckdb.sql(
        "SELECT ROUND(-1e-9, 6) - 0.0 * abs(5),"
        "       ROUND(-1e-9, 6) - 0.0 * abs(-7)").fetchone()
    assert math.copysign(1, da) == -1.0  # DuckDB ROUND keeps -0.0 …
    assert math.copysign(1, db) == -1.0  # … and the no-op must too


def test_sql_fetchback_rebuild_after_append_sees_new_docs(spark,
                                                          tmp_path):
    """The fetch-back SNAPSHOT contract's positive side: after a delta
    append (new postings files + re-registered views), REBUILDING the
    statement recomputes the pushed ranges and the new document — with
    an id far outside the old snapshot's ranges — appears in the
    fetch-back result. (The docstring's contract: a stale statement
    keeps answering from its build-time snapshot; the rebuild is how
    appends become visible, mirroring TQL re-planning.)"""
    from deeplake_spark.operators.indexes import (
        InvertedIndex,
        build_inverted_index,
    )
    from tests.test_indexes import pushed_ranges

    n = 300
    rows = [(i, f"filler{i % 5} words here"
             + (" needlezz" if 10 <= i < 15 else "")) for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    corpus_path = str(tmp_path / "c1")
    (df.repartitionByRange(2, "doc_id").sortWithinPartitions("doc_id")
     .write.parquet(corpus_path))
    idx_path = str(tmp_path / "inv")
    build_inverted_index(spark.read.parquet(corpus_path), "text",
                         "doc_id").save(idx_path)
    spark.read.parquet(corpus_path).createOrReplaceTempView("snap_docs")
    rt.register_index_views(spark, "snap_docs", idx_path)
    # kb-row fixture, one granule: the append delta's granule rows stay
    # apart from the base's, so the new id gets its own range instead
    # of widening the old one past the coverage gate
    try:
        q1 = rt.bm25_topk_sql("snap_docs", ["needlezz"], k=10,
                              fetch_cols=["doc_id", "text"],
                              id_col="doc_id", spark=spark)
        ids1 = {r.doc_id for r in spark.sql(q1).collect()}
        assert ids1 == set(range(10, 15))

        # delta append: one new matching doc at the next ingest id
        # (outside the old snapshot's [10,14] range; contiguous ids are
        # the ingest layout); new corpus files + index delta +
        # re-registration
        new = spark.createDataFrame(
            [(300, "totally new needlezz document")],
            "doc_id long, text string")
        new.write.mode("append").parquet(corpus_path)
        build_inverted_index(new, "text", "doc_id").save(idx_path, mode="append")
        spark.read.parquet(corpus_path).createOrReplaceTempView(
            "snap_docs")
        rt.register_index_views(spark, "snap_docs", idx_path)

        q2 = rt.bm25_topk_sql("snap_docs", ["needlezz"], k=10,
                              fetch_cols=["doc_id", "text"],
                              id_col="doc_id", spark=spark)
        got2 = {r.doc_id for r in spark.sql(q2).collect()}
        assert 300 in got2 and ids1 <= got2
        # and the rebuilt statement still carries a pushed range filter
        assert pushed_ranges(spark.sql(q2), "doc_id") == \
            [(10, 14), (300, 300)]
    finally:
        for v in ("snap_docs", "snap_docs__postings",
                  "snap_docs__doclens", "snap_docs__stats"):
            spark.catalog.dropTempView(v)


def test_ann_nprobe_zero_declines_route(spark, ann_ds):
    """r15 review: nprobe=0 with accuracyFactor=0 used to build an
    EMPTY cell probe — every routed top-k silently returned 0 rows,
    and the empty LocalRelation escaped the scansUnder idempotence
    guard (semijoin stacking at the Resolution fixed point). The
    route now declines: stock plan, exact rows; ann.enabled stays the
    documented off switch."""
    ds, qv = ann_ds
    sql = ("SELECT vec_id FROM ann_emb ORDER BY "
           f"{rt.cosine_sql('embedding', qv)} DESC LIMIT 5")
    exact = [r.vec_id for r in spark.sql(sql).collect()]
    assert exact
    rt.register_dataset(ds)
    rt.enable(spark)
    spark.conf.set("spark.sql.deeplake.routing.ann.nprobe", "0")
    spark.conf.set("spark.sql.deeplake.routing.ann.accuracyFactor", "0")
    try:
        df = spark.sql(sql)
        assert "LeftSemi" not in _plan(df)
        assert [r.vec_id for r in df.collect()] == exact
    finally:
        spark.conf.unset("spark.sql.deeplake.routing.ann.nprobe")


def test_ann_routes_through_subquery_alias(spark, ann_ds):
    """r15 review: ORDER BY <alias> defined in a NESTED subquery puts
    a SubqueryAlias between the Sort and the aliasing Project — the
    alias walk now peels wrappers and chained Projects, so the common
    `SELECT * FROM (SELECT id, <cos> AS score FROM t) ORDER BY score`
    spelling routes like the flat one and returns the same rows."""
    ds, qv = ann_ds
    rt.register_dataset(ds)
    rt.enable(spark)
    cos = rt.cosine_sql("embedding", qv)
    nested = (f"SELECT vec_id FROM (SELECT vec_id, {cos} AS score "
              "FROM ann_emb) s ORDER BY score DESC LIMIT 10")
    flat = (f"SELECT vec_id FROM ann_emb ORDER BY {cos} DESC LIMIT 10")
    dfn, dff = spark.sql(nested), spark.sql(flat)
    assert "LeftSemi" in _plan(dfn), "nested alias spelling not routed"
    assert "LeftSemi" in _plan(dff)
    assert sorted(r.vec_id for r in dfn.collect()) == \
        sorted(r.vec_id for r in dff.collect())


def test_registry_trailing_slash_and_longest_prefix(spark):
    """r15 review pins on IndexRegistry: a trailing-slash registration
    normalizes and still owns its own dataset's files (it used to own
    NOTHING — silent loss of all routing); with NESTED registrations
    the longest owning prefix wins deterministically (map iteration
    order used to pick the winner per JVM)."""
    if not rt.is_available(spark):
        pytest.skip("extension jar not on driver classpath")
    reg = spark._jvm.io.deeplake.spark.ext.IndexRegistry
    reg.clear()
    try:
        reg.register("/tmp/rt_slash_ds/", "text", "inverted",
                     "/tmp/rt_slash_ds/_idx/text", "doc_id")
        assert reg.kindsForPaths(
            ["/tmp/rt_slash_ds/part-0.parquet"]) == "text=inverted"
        assert reg.kindsForPaths(
            ["/tmp/rt_slash_ds"]) == "text=inverted"
        # nested: the more specific registration describes the scan
        reg.register("/tmp/rt_slash_ds/sub", "embedding", "clustered",
                     "/tmp/rt_slash_ds/sub/_idx/emb", "vec_id")
        for _ in range(3):   # deterministic, not iteration-order luck
            assert reg.kindsForPaths(
                ["/tmp/rt_slash_ds/sub/part-0.parquet"]) \
                == "embedding=clustered"
        # sibling files still resolve to the parent registration
        assert reg.kindsForPaths(
            ["/tmp/rt_slash_ds/other.parquet"]) == "text=inverted"
    finally:
        reg.clear()
