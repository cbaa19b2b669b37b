"""TQL front-end tests: parse → translate → execute on testdata,
verified against directly-built DataFrame results (the per-operator
unit-test strategy from SURVEY §5b)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from deeplake_spark import tql
from deeplake_spark.io import load_table, load_tables
from deeplake_spark.tql.parser import is_valid, parse_query
from deeplake_spark.tql.translator import is_filter


@pytest.fixture(scope="module")
def tables(spark, sf_dir):
    return load_tables(spark, sf_dir)


def ids(df, col):
    return sorted(r[col] for r in df.collect())


def test_parse_validity():
    assert is_valid("SELECT * WHERE x > 3")
    assert is_valid("SELECT a, b FROM t ORDER BY a DESC LIMIT 5 OFFSET 2")
    assert is_valid("SELECT * SAMPLE BY max_weight(label == 1: 10, label == 2: 5) LIMIT 3")
    assert not is_valid("SELECT FROM WHERE")
    assert not is_valid("SELECT * WHERE x ==")


def test_is_filter():
    assert is_filter("SELECT * WHERE lang == 'en'")
    assert not is_filter("SELECT lang WHERE lang == 'en'")
    assert not is_filter("SELECT * WHERE lang == 'en' LIMIT 3")


def test_filter_eqeq_and_implicit_from(spark, tables):
    d = tables["documents"]
    out = tql.query("SELECT * WHERE lang == 'en' AND n_chars > 300", default=d)
    expected = d.filter((F.col("lang") == "en") & (F.col("n_chars") > 300))
    assert ids(out, "doc_id") == ids(expected, "doc_id")


def test_projection_alias_arithmetic(spark, tables):
    l = tables["lineitem"]
    out = tql.query(
        "SELECT l_orderkey, l_extendedprice * (1 - l_discount) AS rev WHERE l_quantity < 5 LIMIT 7",
        default=l,
    )
    assert out.columns == ["l_orderkey", "rev"]
    assert out.count() == 7


def test_glob_like_and_ilike(spark, tables):
    d = tables["documents"]
    out = tql.query("SELECT doc_id WHERE source LIKE 'src1?'", default=d)
    expected = d.filter(F.col("source").rlike("^src1.$"))
    assert ids(out, "doc_id") == ids(expected, "doc_id")
    up = tql.query("SELECT doc_id WHERE source ILIKE 'SRC1?'", default=d)
    assert ids(up, "doc_id") == ids(expected, "doc_id")


def test_in_between_not(spark, tables):
    d = tables["documents"]
    out = tql.query(
        "SELECT doc_id WHERE lang IN ('en','fr') AND n_chars BETWEEN 100 AND 200", default=d
    )
    expected = d.filter(F.col("lang").isin("en", "fr") & F.col("n_chars").between(100, 200))
    assert ids(out, "doc_id") == ids(expected, "doc_id")
    neg = tql.query("SELECT doc_id WHERE lang NOT IN ('en','fr')", default=d)
    assert neg.count() == d.filter(~F.col("lang").isin("en", "fr")).count()


def test_order_limit_offset(spark, tables):
    o = tables["orders"]
    out = tql.query(
        "SELECT o_orderkey, o_totalprice ORDER BY o_totalprice DESC, o_orderkey LIMIT 5 OFFSET 3",
        default=o,
    ).collect()
    expected = (
        o.orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(8)
        .collect()[3:]
    )
    assert [r.o_orderkey for r in out] == [r.o_orderkey for r in expected]


def test_explicit_from_and_join(spark, tables):
    out = tql.query(
        """
        SELECT n.n_name, r.r_name FROM nation n JOIN region r ON n.n_regionkey == r.r_regionkey
        WHERE r.r_name == 'ASIA' ORDER BY n.n_name
        """,
        tables=tables,
    )
    n, r = tables["nation"], tables["region"]
    expected = (
        n.join(r, n.n_regionkey == r.r_regionkey).filter(F.col("r_name") == "ASIA")
    )
    assert out.count() == expected.count()


def test_using_join(spark, tables):
    ev = tables["events"].select("user_id", "event_type")
    u = tables["events"].select("user_id").distinct().limit(10)
    out = tql.query(
        "SELECT user_id FROM a JOIN b USING (user_id)",
        tables={"a": ev, "b": u},
    )
    assert out.count() == ev.join(u, "user_id").count()


def test_array_index_and_slice(spark, tables):
    e = tables["embeddings"]
    out = tql.query(
        "SELECT vec_id, embedding[0] AS first, embedding[-1] AS last, embedding[0:3] AS head3 "
        "WHERE vec_id < 5 ORDER BY vec_id",
        default=e,
    ).collect()
    src = e.filter(F.col("vec_id") < 5).orderBy("vec_id").collect()
    for got, row in zip(out, src):
        emb = list(row.embedding)
        assert got.first == pytest.approx(emb[0])
        assert got.last == pytest.approx(emb[-1])
        assert list(got.head3) == pytest.approx(emb[0:3])


def test_json_access(spark, tables):
    ev = tables["events"]
    out = tql.query(
        "SELECT event_id, props['k'] AS k WHERE event_id < 10 ORDER BY event_id", default=ev
    ).collect()
    src = ev.filter(F.col("event_id") < 10).orderBy("event_id").collect()
    import json

    for got, row in zip(out, src):
        assert int(got.k) == json.loads(row.props)["k"]


def test_tensor_functions(spark, tables):
    e = tables["embeddings"]
    out = tql.query(
        "SELECT vec_id, L2_NORM(embedding) AS n2, SUM(embedding) AS s, AMAX(embedding) AS mx "
        "WHERE vec_id < 3 ORDER BY vec_id",
        default=e,
    ).collect()
    import numpy as np

    src = e.filter(F.col("vec_id") < 3).orderBy("vec_id").collect()
    for got, row in zip(out, src):
        v = np.asarray(row.embedding, dtype=np.float64)
        assert got.n2 == pytest.approx(np.linalg.norm(v))
        assert got.s == pytest.approx(v.sum())
        assert got.mx == pytest.approx(v.max())


def test_data_reads_from_source_not_bound_default(spark):
    """DATA(col, i) addresses the relation the query's FROM names, even
    when the bound default dataset has a same-named column (the source-
    resolution trap: name-matching against the default silently reads
    row i of the wrong relation)."""
    from deeplake_spark import tql

    default = spark.createDataFrame([(1.0,), (2.0,), (3.0,)], ["x"])
    other = spark.createDataFrame([(10.0,), (20.0,), (30.0,)], ["x"])
    out = tql.query("SELECT x + DATA(x, 1) AS y FROM t",
                    spark=spark, tables={"t": other}, default=default).collect()
    assert sorted(r.y for r in out) == [30.0, 40.0, 50.0]
    # no FROM → the bound default is the source, as before
    out = tql.query("SELECT x + DATA(x, 1) AS y",
                    spark=spark, default=default).collect()
    assert sorted(r.y for r in out) == [3.0, 4.0, 5.0]


def test_cosine_topk_via_tql(spark, tables):
    e = tables["embeddings"]
    out = tql.query(
        "SELECT vec_id, COSINE_SIMILARITY(embedding, DATA(embedding, 0)) AS score "
        "ORDER BY score DESC LIMIT 5",
        default=e,
    ).collect()
    assert out[0].vec_id == 0 and out[0].score == pytest.approx(1.0)
    assert len(out) == 5


def test_row_number(spark, tables):
    d = tables["documents"]
    out = tql.query("SELECT doc_id, ROW_NUMBER() AS rn LIMIT 5", default=d).collect()
    assert [r.rn for r in out] == [0, 1, 2, 3, 4]


def test_group_ungroup_sequences(spark, tables):
    ev = tables["events"]
    small = ev.filter(F.col("user_id") < 10).select("user_id", "event_type", "value")
    packed = tql.query("SELECT user_id, event_type GROUP BY user_id", default=small)
    row = packed.filter(F.col("user_id") == packed.head().user_id).head()
    assert isinstance(row.event_type, list)
    # per-cell reduction over a packed sequence (tql.md:470-472)
    avg = tql.query("SELECT user_id, AVG(value) AS v GROUP BY user_id", default=small)
    got = {r.user_id: r.v for r in avg.collect()}
    exp = {r.user_id: r.v for r in small.groupBy("user_id").agg(F.avg("value").alias("v")).collect()}
    for k, v in exp.items():
        assert got[k] == pytest.approx(v)
    # roundtrip
    back = tql.query("SELECT user_id, event_type GROUP BY user_id UNGROUP BY SPLIT", default=small)
    assert back.count() == small.count()


def test_set_ops(spark, tables):
    d = tables["documents"]
    out = tql.query(
        "SELECT doc_id WHERE lang == 'en' UNION SELECT doc_id WHERE lang == 'fr'", default=d
    )
    assert out.count() == d.filter(F.col("lang").isin("en", "fr")).count()
    inter = tql.query(
        "SELECT doc_id WHERE lang == 'en' INTERSECT SELECT doc_id WHERE n_chars > 200", default=d
    )
    assert inter.count() == d.filter((F.col("lang") == "en") & (F.col("n_chars") > 200)).count()


def test_sample_by(spark, tables):
    e = tables["embeddings"]
    out = tql.query("SELECT vec_id, label SAMPLE BY label + 1 LIMIT 50", default=e)
    assert out.count() == 50
    pairs = tql.query(
        "SELECT vec_id SAMPLE BY max_weight(label == 1: 10.0, label == 2: 5.0) LIMIT 20",
        default=e,
    )
    assert pairs.count() == 20


def test_limit_percent(spark, tables):
    d = tables["documents"]
    out = tql.query("SELECT doc_id LIMIT 10 PERCENT", default=d)
    import math

    assert out.count() == math.ceil(d.count() * 0.10)


def test_params(spark, tables):
    d = tables["documents"]
    out = tql.query("SELECT doc_id WHERE lang == ? AND n_chars > ?", default=d, params=["en", 300])
    expected = d.filter((F.col("lang") == "en") & (F.col("n_chars") > 300))
    assert out.count() == expected.count()


def test_contains_equals(spark, tables):
    d = tables["documents"]
    out = tql.query("SELECT doc_id WHERE CONTAINS(text, 'spark')", default=d)
    from deeplake_spark.functions.text import contains_keyword

    assert out.count() == d.filter(contains_keyword(F.col("text"), "spark")).count()
    eq = tql.query("SELECT doc_id WHERE EQUALS(lang, 'en')", default=d)
    assert eq.count() == d.filter(F.col("lang") == "en").count()


def test_distinct_and_count_star(spark, tables):
    d = tables["documents"]
    out = tql.query("SELECT DISTINCT lang ORDER BY lang", default=d)
    assert ids(out, "lang") == ids(d.select("lang").distinct(), "lang")


def test_register_function(spark, tables):
    @tql.register_function(returnType="int")
    def double_chars(n):
        return n * 2

    d = tables["documents"]
    out = tql.query(
        "SELECT doc_id, DOUBLE_CHARS(n_chars) AS d2 WHERE doc_id < 3 ORDER BY doc_id", default=d
    ).collect()
    src = d.filter(F.col("doc_id") < 3).orderBy("doc_id").collect()
    for got, row in zip(out, src):
        assert got.d2 == row.n_chars * 2


def test_expand_by(spark):
    import numpy as np

    img = np.arange(16).reshape(4, 4).tolist()
    df = spark.createDataFrame([(1, img)], "id: int, img: array<array<int>>")
    out = tql.query("SELECT id, tile EXPAND BY 2 2", default=df)
    assert out.count() == 4


def test_keys_function(spark, tables):
    ev = tables["events"]
    out = tql.query("SELECT event_id, KEYS(props) AS ks WHERE event_id < 3 ORDER BY event_id", default=ev)
    for r in out.collect():
        assert list(r.ks) == ["k"]


def test_parallel_query_knobs():
    tql.set_max_num_parallel_queries(4)
    assert tql.get_max_num_parallel_queries() == 4
    tql.set_max_num_parallel_queries(8)


def test_register_function_batch_path(spark, tables):
    """is_batch=True registers an Arrow pandas UDF (whole-column
    batches); autodetect promotes vectorizable callables; is_batch=False
    forces the scalar fallback (reference is_batch, tql.hpp:179-204)."""
    from pyspark.util import PythonEvalType

    from deeplake_spark.functions import TQL_FUNCTIONS

    @tql.register_function(returnType="double", is_batch=True)
    def vec_scaled(x):
        return x * 0.5

    assert TQL_FUNCTIONS["VEC_SCALED"].evalType == PythonEvalType.SQL_SCALAR_PANDAS_UDF

    @tql.register_function(returnType="double")
    def auto_scaled(x):
        return x * 0.5  # works on a Series -> autodetected as batch

    assert TQL_FUNCTIONS["AUTO_SCALED"].evalType == PythonEvalType.SQL_SCALAR_PANDAS_UDF

    @tql.register_function(returnType="double", is_batch=False)
    def row_scaled(x):
        return x * 0.5

    assert TQL_FUNCTIONS["ROW_SCALED"].evalType == PythonEvalType.SQL_BATCHED_UDF

    d = tables["documents"]
    out = tql.query(
        "SELECT doc_id, VEC_SCALED(n_chars) AS h WHERE doc_id < 5 ORDER BY doc_id",
        default=d,
    ).collect()
    src = d.filter(F.col("doc_id") < 5).orderBy("doc_id").collect()
    for got, row in zip(out, src):
        assert got.h == row.n_chars * 0.5


def test_translate_triggers_no_driver_action(spark, monkeypatch):
    """LIMIT PERCENT / SAMPLE BY translation must not run Spark jobs at
    translate time (the count is a broadcast 1-row aggregate inside the
    plan); DATA(col, i) is the one documented prefetch exception."""
    import pyspark.sql.dataframe as D

    def boom(self, *a, **kw):
        raise AssertionError("driver-side action during TQL translation")

    df = spark.createDataFrame(
        [(i, float(i % 5 + 1)) for i in range(100)], "id long, w double")
    for action in ("count", "collect", "toPandas", "head", "take"):
        monkeypatch.setattr(D.DataFrame, action, boom)
    q1 = tql.query("SELECT id ORDER BY id LIMIT 10 PERCENT", default=df)
    q2 = tql.query("SELECT id SAMPLE BY w LIMIT 10 PERCENT", default=df)
    q3 = tql.query("SELECT id SAMPLE BY w REPLACE TRUE LIMIT 20", default=df)
    q4 = tql.query("SELECT id SAMPLE BY w", default=df)
    monkeypatch.undo()
    assert q1.count() == 10
    assert q2.count() == 10
    assert q4.count() == 100  # bare SAMPLE BY keeps all positive-weight rows
    assert q3.count() > 0


def test_row_number_no_global_window(spark, tables):
    """ROW_NUMBER() lowers to the partition-offset row-id column, not a
    row_number() over an unpartitioned window."""
    d = tables["documents"]
    out = tql.query("SELECT doc_id, ROW_NUMBER() AS rn", default=d)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "row_number" not in plan.lower()
    got = {r.doc_id: r.rn for r in out.collect()}
    assert sorted(got.values()) == list(range(len(got)))


def test_row_number_order_by_no_global_window(spark, tables):
    """ROW_NUMBER() inside ORDER BY (the bare-expression fallback
    context) must also lower to the partition-offset column, never
    row_number().over(Window.orderBy(...))."""
    d = tables["documents"]
    out = tql.query("SELECT doc_id ORDER BY ROW_NUMBER() DESC LIMIT 5", default=d)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "row_number" not in plan.lower()
    assert out.count() == 5
    # rownum order matches the SELECT-context rownum: last-5, reversed
    full = tql.query("SELECT doc_id, ROW_NUMBER() AS rn", default=d).collect()
    last5 = [r.doc_id for r in sorted(full, key=lambda r: -r.rn)[:5]]
    assert [r.doc_id for r in out.collect()] == last5


def test_row_number_having_no_global_window(spark, tables):
    d = tables["documents"]
    out = tql.query("SELECT doc_id WHERE ROW_NUMBER() < 7", default=d)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "row_number" not in plan.lower()
    assert out.count() == 7
    assert "__tql_rownum" not in out.columns


def test_multidim_slicing(spark):
    """boxes[:,0] / boxes[0,:] / boxes[1,2] / boxes[:,-1] / boxes[:,1:3]
    (reference slice_expr multi-dim, expr.hpp:303-318, tql.md:594-604)."""
    df = spark.createDataFrame(
        [(0, [[1, 2, 3], [4, 5, 6], [7, 8, 9]])],
        "id long, boxes array<array<int>>")
    row = tql.query(
        "SELECT boxes[:, 0] AS c0, boxes[0, :] AS r0, boxes[1, 2] AS e12, "
        "boxes[:, -1] AS clast, boxes[:, 1:3] AS mid, boxes[0:2, 0] AS c0h",
        default=df).head()
    assert list(row.c0) == [1, 4, 7]
    assert list(row.r0) == [1, 2, 3]
    assert row.e12 == 6
    assert list(row.clast) == [3, 6, 9]
    assert [list(x) for x in row.mid] == [[2, 3], [5, 6], [8, 9]]
    assert list(row.c0h) == [1, 4]


def test_query_keywords():
    kws = tql.query_keywords()
    assert "SELECT" in kws and "SAMPLE" in kws and kws == sorted(kws)


def test_pii_and_repetition_functions(spark):
    from deeplake_spark.functions.text import (
        duplicate_word_fraction, scrub_pii, pii_count, tokenize,
        top_bigram_fraction, word_bigrams,
    )
    df = spark.createDataFrame(
        [("mail a@b.com from 1.2.3.4 call +1 555 0100 end", "a b a b a c")],
        "t string, words string")
    r = df.select(
        scrub_pii(F.col("t")).alias("s"),
        pii_count(F.col("t"), "email").alias("ne"),
        pii_count(F.col("t"), "ipv4").alias("ni"),
        duplicate_word_fraction(tokenize(F.col("words"))).alias("dw"),
        top_bigram_fraction(word_bigrams(tokenize(F.col("words")))).alias("tb"),
    ).head()
    assert r.s == "mail [EMAIL] from [IP] call [PHONE] end"
    assert (r.ne, r.ni) == (1, 1)
    assert abs(r.dw - 0.5) < 1e-9          # 3 distinct of 6 words
    assert abs(r.tb - 0.4) < 1e-9          # 'a b' twice of 5 bigrams


def test_nd_broadcasting(spark):
    """Reference nd::array semantics (tql.md Array Logic examples):
    scalar-vs-array comparisons/arithmetic broadcast element-wise;
    ANY/ALL/SUM reduce over every element of nd cells."""
    df = spark.createDataFrame(
        [(0, [[-1.0, 2.0], [3.0, 300.0]], [0.95, 0.1], [150.0, 200.0]),
         (1, [[1.0, 2.0], [3.0, 4.0]], [0.5, 0.6], [50.0, 90.0])],
        "id long, boxes array<array<double>>, confidence array<double>, "
        "area array<double>")
    cases = [
        ("SELECT id WHERE ANY(boxes[:, 0] < 0)", [0]),
        ("SELECT id WHERE ALL(boxes < 255)", [1]),
        ("SELECT id WHERE ANY(confidence > 0.9)", [0]),
        ("SELECT id WHERE ALL_STRICT(confidence > 0.4)", [1]),
        ("SELECT id WHERE ANY(LOGICAL_AND(confidence > 0.8, area > 100))", [0]),
        ("SELECT id WHERE ANY(confidence * 2 > 1.8)", [0]),
        ("SELECT id WHERE ANY(-confidence < -0.9)", [0]),
        ("SELECT id WHERE ANY(confidence == 0.5)", [1]),
    ]
    for q, want in cases:
        got = [r.id for r in tql.query(q, default=df).collect()]
        assert got == want, f"{q}: {got}"
    # whole-tensor SUM over a 2-D cell
    s = {r.id: r.s for r in tql.query("SELECT id, SUM(boxes) AS s", default=df).collect()}
    assert s == {0: 304.0, 1: 10.0}
    # rank-mismatched arrays refuse to broadcast
    import pytest as _pytest

    with _pytest.raises(tql.TQLTranslationError):
        tql.query("SELECT id WHERE ANY(boxes + confidence > 0)", default=df)


def test_reducer_axis_variants(spark):
    """SUM/ANY with the optional axis argument (tql.md signatures
    ANY(condition[, axis])): axis 0 reduces down columns, axis 1 per
    row; no axis flattens the whole cell."""
    df = spark.createDataFrame(
        [(0, [[1.0, 2.0], [3.0, 4.0]])], "id long, m array<array<double>>")
    r = tql.query(
        "SELECT SUM(m) AS total, SUM(m, 0) AS col_sums, SUM(m, 1) AS row_sums, "
        "ANY(m > 3, 1) AS row_any", default=df).head()
    assert r.total == 10.0
    assert list(r.col_sums) == [4.0, 6.0]
    assert list(r.row_sums) == [3.0, 7.0]
    assert list(r.row_any) == [False, True]


def test_tql_options_feature_gates(spark, tables):
    """tql.Options mirrors tql::options (cpp/tql/options.hpp:7-30):
    feature gates reject GROUP/UNGROUP/nested/select-list shapes, and
    parsing_only validates without translating."""
    from deeplake_spark.tql import Options, TQLTranslationError

    d = tables["documents"]
    ev = tables["events"].select("user_id", "event_type")

    lock = Options.one_level_filter_only()
    assert tql.query("SELECT * WHERE n_chars > 300",
                     default=d, options=lock).count() > 0
    with pytest.raises(TQLTranslationError):
        tql.query("SELECT doc_id", default=d, options=lock)
    with pytest.raises(TQLTranslationError):
        tql.query("SELECT * FROM (SELECT * WHERE n_chars > 300)",
                  default=d, options=lock)
    # filter_only admits the nested shape that one_level rejects
    assert tql.query("SELECT * FROM (SELECT * WHERE n_chars > 300)",
                     default=d, options=Options.filter_only()).count() > 0

    with pytest.raises(TQLTranslationError):
        tql.query("SELECT user_id, event_type GROUP BY user_id",
                  default=ev, options=Options.linear_only())
    with pytest.raises(TQLTranslationError):
        tql.query(
            "SELECT user_id, event_type GROUP BY user_id UNGROUP BY SPLIT",
            default=ev,
            options=Options(allow_selection_list=True, allow_group=True))

    # parsing_only: valid text → None without touching data; bad text
    # still surfaces the syntax error
    po = Options(parsing_only=True)
    assert tql.query("SELECT doc_id WHERE n_chars > 300",
                     default=d, options=po) is None
    from deeplake_spark.tql.lexer import TQLSyntaxError

    with pytest.raises(TQLSyntaxError):
        tql.query("SELECT FROM WHERE", default=d, options=po)


def test_tql_options_use_index_forces_linear_plan(spark, sf_dir, round_trip):
    """use_index=False produces the non-routed plan: same rows, no
    index-probe join in the physical plan. The range is not selective,
    so the selectivity gate is opened for the routed side."""
    from deeplake_spark.operators.indexes import (
        MAX_SELECTIVITY_KEY,
        build_numeric_index,
    )
    from deeplake_spark.plans.explain import explain_query
    from deeplake_spark.tql import Options

    docs = load_table(spark, sf_dir, "documents")
    nidx = round_trip(build_numeric_index(docs, "n_chars", id_col="doc_id"))
    indexes = {"n_chars": ("numeric", nidx, "doc_id")}
    q = "SELECT doc_id WHERE n_chars BETWEEN 100 AND 200"

    spark.conf.set(MAX_SELECTIVITY_KEY, "1.0")
    try:
        routed = tql.query(q, spark=spark, default=docs, indexes=indexes)
        linear = tql.query(q, spark=spark, default=docs, indexes=indexes,
                           options=Options(allow_selection_list=True,
                                           use_index=False))
        assert ids(routed, "doc_id") == ids(linear, "doc_id")
        assert "Join" in explain_query(routed).text
        assert "Join" not in explain_query(linear).text
    finally:
        spark.conf.unset(MAX_SELECTIVITY_KEY)


def test_is_valid_malformed_int_tokens():
    """r15 review: malformed integer tokens in LIMIT/TOP/OFFSET/EXPAND
    must make is_valid() return False, not escape as a raw ValueError
    from int() (TQLSyntaxError is the only class the bool contract
    catches; confirmed live pre-fix)."""
    assert not is_valid("SELECT * LIMIT x")
    assert not is_valid("SELECT TOP y *")
    assert not is_valid("SELECT * LIMIT 1.5")
    assert not is_valid("SELECT * LIMIT 5 OFFSET z")
    assert not is_valid("SELECT * EXPAND BY a b")
    assert is_valid("SELECT * LIMIT 5 OFFSET 2")


def test_row_number_is_shared_source_offset(spark, tables):
    """tql.md:427 — ROW_NUMBER() is the zero-based SOURCE row offset,
    ONE numbering shared by WHERE and the select list (the reference's
    own example: `SELECT *, ROW_NUMBER() WHERE ROW_NUMBER() < 100`).
    r15 review: the per-stage recompute renumbered the filtered rows
    from 0, so every emitted row violated the query's own rn >= 7."""
    d = tables["documents"]
    out = tql.query(
        "SELECT doc_id, ROW_NUMBER() AS rn "
        "WHERE ROW_NUMBER() >= 7 AND ROW_NUMBER() < 10",
        default=d).collect()
    assert sorted(r.rn for r in out) == [7, 8, 9]
    lo = tql.query(
        "SELECT doc_id, ROW_NUMBER() AS rn WHERE ROW_NUMBER() < 3",
        default=d).collect()
    assert sorted(r.rn for r in lo) == [0, 1, 2]


def test_row_number_with_routed_where_matches_linear(spark, sf_dir,
                                                    round_trip):
    """r15 review: an index-routed WHERE conjunct must not change
    ROW_NUMBER results — numbering happens over the PRE-ROUTING
    source, so routed and linear plans agree row-for-row (the
    use_index 'same rows' contract)."""
    from deeplake_spark.operators.indexes import build_numeric_index
    from deeplake_spark.tql import Options

    docs = load_table(spark, sf_dir, "documents")
    nidx = round_trip(build_numeric_index(docs, "n_chars", id_col="doc_id"))
    indexes = {"n_chars": ("numeric", nidx, "doc_id")}
    q = ("SELECT doc_id, ROW_NUMBER() AS rn "
         "WHERE n_chars BETWEEN 100 AND 200 AND ROW_NUMBER() > 10")
    routed = tql.query(q, default=docs, indexes=indexes)
    linear = tql.query(q, default=docs, indexes=indexes,
                       options=Options(allow_selection_list=True,
                                       use_index=False))
    assert sorted((r.doc_id, r.rn) for r in routed.collect()) == \
        sorted((r.doc_id, r.rn) for r in linear.collect())


def test_ungroup_by_named_column(spark):
    """UNGROUP BY <col> explodes ONLY the named sequence column,
    repeating the others — r15 review: the by-expression used to be
    silently ignored (zip-explode of every array column, null-padding
    unequal lengths); a non-sequence name raises."""
    from deeplake_spark.tql.translator import TQLTranslationError

    df = spark.createDataFrame(
        [(1, [10, 20, 30], ["a", "b"]), (2, [40], ["c", "d", "e"])],
        "k int, xs array<int>, ys array<string>")
    out = tql.query("SELECT * UNGROUP BY xs", default=df)
    rows = sorted((r.k, r.xs, tuple(r.ys)) for r in out.collect())
    assert rows == [
        (1, 10, ("a", "b")), (1, 20, ("a", "b")), (1, 30, ("a", "b")),
        (2, 40, ("c", "d", "e"))]
    with pytest.raises(TQLTranslationError, match="not a sequence"):
        tql.query("SELECT * UNGROUP BY k", default=df)
    # SPLIT still zip-explodes everything in step
    eq = spark.createDataFrame(
        [(1, [10, 20], ["a", "b"])], "k int, xs array<int>, ys array<string>")
    sp = tql.query("SELECT * UNGROUP BY SPLIT", default=eq)
    assert sorted((r.k, r.xs, r.ys) for r in sp.collect()) == \
        [(1, 10, "a"), (1, 20, "b")]


def test_negative_step_slices(spark):
    """r15 review: col[::-1] used to throw Spark's illegal-sequence
    error and col[5:0:-1] silently returned []; python slice semantics
    now hold for negative steps (step-sign-dependent defaults)."""
    df = spark.createDataFrame([([0, 1, 2, 3, 4, 5],)], "a array<int>")
    out = tql.query(
        "SELECT a[::-1] AS rev, a[5:0:-1] AS r50, a[::-2] AS r2, "
        "a[1:4] AS fwd, a[0:0:-1] AS empty", default=df).head()
    assert out.rev == [5, 4, 3, 2, 1, 0]
    assert out.r50 == [5, 4, 3, 2, 1]
    assert out.r2 == [5, 3, 1]
    assert out.fwd == [1, 2, 3]
    assert out.empty == []


def test_dynamic_negative_index(spark):
    """r15 review: a COMPUTED negative index used to silently return
    NULL (F.get has no from-end handling) while the literal spelling
    col[-1] read from the end; out-of-range stays NULL either way."""
    df = spark.createDataFrame(
        [([10, 20, 30], 1), ([5, 6, 7], -1)], "a array<int>, i int")
    out = tql.query("SELECT a[i] AS v, a[i - 2] AS w, a[i * 10] AS oob",
                    default=df).collect()
    got = sorted((r.v, r.w, r.oob) for r in out)
    assert got == [(7, 5, None), (20, 30, None)]


def test_contains_on_computed_array_expression(spark):
    """r15 review: CONTAINS over a computed array-valued operand
    (labels[0] on a nested array) dispatches to array membership, not
    the text tokenize branch (which failed analysis on arrays)."""
    df = spark.createDataFrame(
        [(1, [["cat", "dog"], ["x"]]), (2, [["y"], ["z"]])],
        "k int, labels array<array<string>>")
    out = tql.query("SELECT k WHERE CONTAINS(labels[0], 'cat')",
                    default=df)
    assert [r.k for r in out.collect()] == [1]


def test_set_op_order_by_rownum_no_global_window(spark, tables):
    """r15 review: ROW_NUMBER() in a set-op ORDER BY materializes via
    the partition-offset column like every other clause — never the
    unpartitioned row_number().over(orderBy) single-task sort
    (trap 7)."""
    d = tables["documents"]
    # the ORDER BY binds to the SET OP only when the right select's
    # own (ORDER, LIMIT) slots are already consumed — grammar quirk:
    # a select parses ORDER before LIMIT, so `... LIMIT n ORDER BY`
    # leaves the trailing ORDER for the SetOp (r06's per-set-op shape)
    out = tql.query(
        "SELECT doc_id WHERE n_chars > 300 "
        "UNION SELECT doc_id WHERE n_chars <= 300 LIMIT 500 "
        "ORDER BY ROW_NUMBER() DESC LIMIT 5", default=d)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "row_number" not in plan.lower()
    assert out.count() == 5


@pytest.fixture(scope="module")
def shape_indexes(spark, sf_dir, round_trip):
    """Saved-and-loaded indexes serving each of the five routable WHERE
    shapes: table name → (frame, indexes= mapping)."""
    from deeplake_spark.operators.indexes import (
        build_exact_index,
        build_inverted_index,
        build_json_index,
        build_numeric_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    ev = load_table(spark, sf_dir, "events")
    return {
        "documents": (docs, {
            "text": ("inverted", round_trip(build_inverted_index(docs)),
                     "doc_id"),
            "lang": ("exact", round_trip(build_exact_index(docs, "lang")),
                     "doc_id"),
            "n_chars": ("numeric",
                        round_trip(build_numeric_index(docs, "n_chars")),
                        "doc_id"),
        }),
        "events": (ev, {
            "props": ("json", round_trip(build_json_index(
                ev, "props", ["k"], id_col="event_id")), "event_id"),
        }),
    }


@pytest.mark.parametrize("table,where", [
    ("documents", "CONTAINS(text, 'spark')"),
    ("documents", "EQUALS(lang, 'en')"),
    ("documents", "n_chars BETWEEN 100 AND 200"),
    ("documents", "n_chars IN (128, 200, 305)"),
    ("events", "props['k'] == '7'"),
], ids=["contains", "equals", "between", "in", "json"])
def test_selectivity_estimator_covers_every_shape(spark, shape_indexes,
                                                  table, where):
    """The filtered-ANN widening estimator sees every shape the rewrite
    routes, through the same estimate (r15 review: an EQUALS prefilter
    used to leave it None and the probe ran unwidened). With the
    selectivity gate just below the estimate the conjunct stays a
    stock filter, just above it the conjunct routes — and either way
    the rows are the stock rows."""
    from deeplake_spark.operators.indexes import MAX_SELECTIVITY_KEY
    from deeplake_spark.tql.translator import Translator

    df, indexes = shape_indexes[table]
    q = f"SELECT * WHERE {where}"
    est = Translator(default=df, indexes=indexes) \
        ._estimate_where_selectivity(parse_query(q).where)
    assert est is not None and 1e-6 < est < 1, est
    stock = tql.query(q, default=df)
    want = sorted(map(tuple, stock.collect()))
    assert want, "fixture carries no signal"
    try:
        for gate, should_route in ((est - 1e-9, False), (est + 1e-9, True)):
            spark.conf.set(MAX_SELECTIVITY_KEY, repr(gate))
            out = tql.query(q, default=df, indexes=indexes)
            plan = out._jdf.queryExecution().optimizedPlan().toString()
            assert ("LeftSemi" in plan) == should_route, (gate, plan[:400])
            assert sorted(map(tuple, out.collect())) == want
    finally:
        spark.conf.unset(MAX_SELECTIVITY_KEY)
