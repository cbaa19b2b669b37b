"""Vector / similarity-search queries over the `embeddings` table.

Covers TQL vector built-ins (SURVEY §2.9: COSINE_SIMILARITY, DOT,
L1/L2/LINF_NORM, HAMMING_DISTANCE, MAXSIM) and the similarity-search
operators (§2.10 top-k fast path: `ORDER BY sim DESC LIMIT k` →
Catalyst TakeOrderedAndProject).

Scale notes: the brute-force top-k is a single scan + TakeOrderedAndProject
(no shuffle of the data, only k rows per partition to the driver); the
query vector is a prefetched literal (the reference's DATA() static
prefetch — cpp/tql/input.hpp:89-107). The IVF variant (operators/
similarity.py) prunes to the nearest centroid partitions first, which is
the 100 TB path; its recall is asserted in tests, not hash-matched.

Oracle discipline: double math from explicitly-cast doubles, sequential
left folds on both sides, ROUND(...,6) on emitted scores.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from deeplake_spark import memo
from deeplake_spark.functions.vector import (
    cosine_similarity,
    dot,
    hamming_distance,
    l1_norm,
    l2_norm,
    linf_norm,
    sign_bits,
)
from deeplake_spark.io import load_table
from deeplake_spark.memo import file_key, session_key
from deeplake_spark.queries import query, saved_index

#: DuckDB expression mirroring our double-cast dot product.
_DUCK_COS = (
    "list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[])) / "
    "(sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[]))) * "
    "sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[]))))"
)


def _ivf8(spark: SparkSession, sf_dir: str):
    """The saved IVF index over `embeddings`, built once per (session,
    sf_dir): the reference builds clustered indexes at ingest as a
    batch job (index_build_config), not per query — so v10/v15/v23
    share ONE build and their timings measure the probe of the
    cluster-partitioned side table after the first call."""
    return saved_index(spark, sf_dir, "ivf", "clustered",
                       lambda: load_table(spark, sf_dir, "embeddings"),
                       "embedding", "vec_id", n_clusters=8, seed=42)


def _quantized_index(spark: SparkSession, sf_dir: str):
    return saved_index(spark, sf_dir, "quant", "clustered_quantized",
                       lambda: load_table(spark, sf_dir, "embeddings"),
                       "embedding", "vec_id")


def _pq_index(spark: SparkSession, sf_dir: str):
    return saved_index(spark, sf_dir, "pq", "pq",
                       lambda: load_table(spark, sf_dir, "embeddings"),
                       "embedding", "vec_id", m=8, nbits=4, seed=42)


def _query_vec(spark: SparkSession, sf_dir: str, vec_id: int = 0):
    """Prefetch one embedding as a literal array column (DATA() semantics).

    The DATA(col, i) prefetch convention (CLAUDE.md trap 8's documented
    bounded+memoized exception): ~20 v-lanes each paid a 1-row head()
    job per CONSTRUCTION; the source file_key keys out
    driver-regenerated testdata exactly like io.load_table's memo."""
    def fetch():
        row = (
            load_table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") == vec_id)
            .select("embedding")
            .head()
        )
        return [float(v) for v in row[0]]

    return memo.QUERY_VEC_MEMO.get(
        (session_key(spark), sf_dir, vec_id,
         file_key(f"{sf_dir}/embeddings.parquet")), fetch)


def _query_mat(spark: SparkSession, sf_dir: str, max_vec_id: int = 4):
    """The first `max_vec_id` embeddings in vec_id order as a query
    MATRIX — `_query_vec`'s prefetch memo for the multi-vector lanes
    (v09/v18), which each paid a per-construction collect job (§18's
    latency-bound driver-chain class). Row order is pinned by the
    explicit orderBy + collect — v09's MAXSIM sum folds query rows in
    this order, so the memo must be (and is) deterministic in it."""
    def fetch():
        rows = (
            load_table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") < max_vec_id)
            .orderBy("vec_id")
            .select("embedding")
            .collect()
        )
        return [[float(v) for v in r[0]] for r in rows]

    return memo.QUERY_MAT_MEMO.get(
        (session_key(spark), sf_dir, max_vec_id,
         file_key(f"{sf_dir}/embeddings.parquet")), fetch)


def _query_vec_sql(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> str:
    """The prefetched query vector as a literal-array SQL fragment —
    one parsed expr instead of ~2 py4j round trips per element
    (trap 12)."""
    from deeplake_spark.functions.vector import literal_vec_sql
    return literal_vec_sql(_query_vec(spark, sf_dir, vec_id))


@query(
    "v01_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, label,
           ROUND({_DUCK_COS.format(a="embedding", b="q.qv")}, 6) AS score
    FROM embeddings, q
    ORDER BY score DESC, vec_id
    LIMIT 10
    """,
    doc="ORDER BY sim DESC LIMIT k → TakeOrderedAndProject (top-k fast path).",
    tags=("vector", "topk"),
)
def v01(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec_sql(spark, sf_dir, 0)
    return (
        e.select(
            "vec_id",
            "label",
            F.round(cosine_similarity("embedding", qv), 6).alias("score"),
        )
        .orderBy(F.desc("score"), "vec_id")
        .limit(10)
    )


@query(
    "v02_norm_stats_by_label",
    oracle="""
    SELECT label,
           ROUND(AVG(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                           CAST(embedding AS DOUBLE[])))), 6) AS avg_l2,
           COUNT(*) AS n
    FROM embeddings
    GROUP BY label
    ORDER BY label
    """,
    doc="Per-row L2_NORM reduction feeding a row-wise aggregate.",
    tags=("vector", "agg"),
)
def v02(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select("label", l2_norm(F.col("embedding")).alias("l2"))
        .groupBy("label")
        .agg(F.round(F.avg("l2"), 6).alias("avg_l2"), F.count(F.lit(1)).alias("n"))
        .orderBy("label")
    )


@query(
    "v03_dot_consecutive",
    oracle="""
    SELECT a.vec_id,
           ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                  CAST(b.embedding AS DOUBLE[])), 6) AS dp
    FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
    WHERE a.vec_id < 100
    ORDER BY a.vec_id
    """,
    doc="DOT across a self-join (query-by-example pairing).",
    tags=("vector", "join"),
)
def v03(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    a = e.filter(F.col("vec_id") < 100).select(
        F.col("vec_id"), F.col("embedding").alias("ea")
    )
    b = e.select((F.col("vec_id") - 1).alias("vec_id"), F.col("embedding").alias("eb"))
    return (
        a.join(b, "vec_id")
        .select("vec_id", F.round(dot(F.col("ea"), F.col("eb")), 6).alias("dp"))
        .orderBy("vec_id")
    )


@query(
    "v04_hamming_signbits",
    oracle="""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    d AS (
      SELECT vec_id,
             CAST(list_sum(list_transform(range(1, len(embedding) + 1),
                  i -> CASE WHEN (embedding[i] >= 0) <> (q.qv[i] >= 0)
                            THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
      FROM embeddings, q
    )
    SELECT hamming, COUNT(*) AS n
    FROM d GROUP BY hamming ORDER BY hamming
    """,
    doc="Binary quantization (sign bits) + Hamming histogram — the "
    "ClusteredQuantized prefilter building block (types.pyi:71-126).",
    tags=("vector", "quantize"),
)
def v04(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec_sql(spark, sf_dir, 0)
    from deeplake_spark.functions.vector import _sign_bits_sql
    return (
        e.select(
            hamming_distance(_sign_bits_sql("embedding"),
                             _sign_bits_sql(qv)).alias("hamming")
        )
        .groupBy("hamming")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("hamming")
    )


@query(
    "v05_norms",
    oracle="""
    SELECT vec_id,
           ROUND(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))), 6) AS l1,
           ROUND(list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))), 6) AS linf
    FROM embeddings
    WHERE vec_id < 50
    ORDER BY vec_id
    """,
    doc="L1_NORM / LINF_NORM per cell.",
    tags=("vector",),
)
def v05(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 50)
    return e.select(
        "vec_id",
        F.round(l1_norm(F.col("embedding")), 6).alias("l1"),
        F.round(linf_norm(F.col("embedding")), 6).alias("linf"),
    ).orderBy("vec_id")


@query(
    "v06_knn_multi_query",
    oracle=f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.qid, e.vec_id,
             ROUND({_DUCK_COS.format(a="e.embedding", b="q.qv")}, 6) AS score
      FROM embeddings e, q
      WHERE e.vec_id <> q.qid
    ),
    ranked AS (
      SELECT qid, vec_id, score,
             row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rnk
      FROM scored
    )
    SELECT qid, vec_id, score, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= 5
    ORDER BY qid, rnk
    """,
    doc="Batched k-NN: broadcast the query set, window top-k per query "
    "(the run_batch parameterized-query pattern, __init__.pyi:612-641).",
    tags=("vector", "topk", "window"),
)
def v06(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.round(cosine_similarity(F.col("embedding"), F.col("qv")), 6).alias("score"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("qid", "vec_id", "score", "rnk")
        .orderBy("qid", "rnk")
    )


@query(
    "v07_label_centroids",
    oracle="""
    SELECT label, CAST(g.i - 1 AS INT) AS dim,
           ROUND(AVG(CAST(embedding[g.i] AS DOUBLE)), 6) AS centroid_val
    FROM embeddings CROSS JOIN generate_series(1, 64) g(i)
    WHERE label < 3
    GROUP BY label, dim
    ORDER BY label, dim
    """,
    doc="Per-label elementwise centroid via posexplode + hash agg — the "
    "k-means index build primitive (EmbeddingIndex Clustered, types.pyi:145).",
    tags=("vector", "agg"),
)
def v07(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("label") < 3)
    return (
        e.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("centroid_val"))
        .orderBy("label", "dim")
    )


@query(
    "v08_near_dup_pairs",
    oracle=f"""
    WITH corpus AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS embedding
      FROM embeddings
    ),
    planted AS (
      SELECT vec_id + 1000000 AS vec_id, label,
             list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.1)
               AS embedding
      FROM embeddings WHERE vec_id < 20
    )
    SELECT a.label, COUNT(*) AS n_pairs
    FROM corpus a JOIN planted b ON b.vec_id = a.vec_id + 1000000
    WHERE {_DUCK_COS.format(a="a.embedding", b="b.embedding")} >= 0.99
    GROUP BY a.label
    ORDER BY a.label
    """,
    doc="Embedding-cosine near-duplicate detection via sign-bit LSH "
    "banding (band → bucket-join → exact-cosine verify, the d04 shape "
    "for dense vectors); pair work stays proportional to true "
    "collisions at any corpus size. Parity is scored on the planted "
    "(original, scaled-copy) pairs ONLY: scaling is cosine- and "
    "sign-invariant, so banding recall on those pairs is provable, "
    "whereas a natural near-dup could flip >= bands sign bits and be "
    "legitimately missed by LSH while an exact oracle finds it (the "
    "full pipeline still runs over the whole corpus; general recall "
    "is gated in tests/test_operators.py).",
    tags=("vector", "dedup"),
)
def v08(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.operators.similarity import near_dup_pairs_lsh

    base = load_table(spark, sf_dir, "embeddings")
    planted = base.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "label",
        F.transform(F.col("embedding").cast("array<double>"),
                    lambda x: x * 1.1).alias("embedding"),
    )
    e = base.select("vec_id", "label",
                    F.col("embedding").cast("array<double>").alias("embedding")
                    ).unionByName(planted)
    pairs = near_dup_pairs_lsh(e, "embedding", "vec_id", threshold=0.99, dim=64)
    labels = e.select("vec_id", "label")
    return (
        pairs.filter(F.col("b") == F.col("a") + 1_000_000)
        .join(labels.select(F.col("vec_id").alias("a"), F.col("label").alias("la")), "a")
        .groupBy(F.col("la").alias("label"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("label")
    )


def _doc_matrices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesized doc matrices: groups of 8 consecutive embeddings →
    (doc_id, doc_matrix) — shared by v09 (exact) and v18 (index)."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.withColumn("doc_id", (F.col("vec_id") / 8).cast("long"))
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("vec_id"), F.col("embedding")))
                ),
                lambda s: s["embedding"],
            ).alias("doc_matrix")
        )
    )


@query(
    "v09_maxsim",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 4
    ),
    d AS (
      SELECT CAST(vec_id // 8 AS BIGINT) AS doc_id, embedding AS dv
      FROM embeddings
    ),
    pair AS (
      SELECT doc_id, q_id, MAX({_DUCK_COS.format(a="dv", b="qv")}) AS m
      FROM d CROSS JOIN q
      GROUP BY doc_id, q_id
    )
    SELECT doc_id, ROUND(SUM(m), 6) AS maxsim_score
    FROM pair GROUP BY doc_id
    ORDER BY maxsim_score DESC, doc_id
    LIMIT 20
    """,
    doc="MAXSIM late interaction (cpp/nd/norm.hpp:42-56) over synthesized "
    "doc matrices (groups of 8 embeddings); Arrow-batched pandas UDF. "
    "Exact-checked: sum over query rows of max-cosine against doc rows.",
    tags=("vector", "maxsim"),
)
def v09(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.functions.vector import maxsim_pandas_const

    docs = _doc_matrices(spark, sf_dir)
    # query matrix rides in the UDF closure — a literal column would
    # cost a 256-node codegen tree plus a per-row Arrow copy
    maxsim = maxsim_pandas_const(_query_mat(spark, sf_dir, 4))
    return (
        docs.select(
            "doc_id", F.round(maxsim(F.col("doc_matrix")), 6).alias("maxsim_score")
        )
        .orderBy(F.desc("maxsim_score"), "doc_id")
        .limit(20)
    )


@query(
    "v10_ivf_search",
    oracle=None,  # k-means clustering is iterative/seed-dependent — recall
    # vs exact top-k asserted in tests/test_operators.py
    doc="IVF (clustered) ANN: MLlib k-means build, nprobe centroid prune, "
    "exact rerank inside probed clusters (EmbeddingIndex Clustered + "
    "SearchConfig accuracy knobs, search_config.hpp:18-100).",
    tags=("vector", "ann", "index"),
)
def v10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.operators.similarity import SearchConfig, ivf_search

    index = _ivf8(spark, sf_dir)
    return ivf_search(index, _query_vec(spark, sf_dir, 0), k=10,
                      config=SearchConfig.balanced())


@query(
    "v11_quantized_search",
    oracle=None,  # two-stage candidate set depends on hamming ties — recall
    # asserted in tests/test_operators.py
    doc="Binary-quantized ANN through the PERSISTED ClusteredQuantized "
    "index (types.pyi:625-632): stored sign bits -> Hamming prefilter "
    "to k*accuracy_factor candidates -> exact cosine rerank; the probe "
    "scans the narrow bits table, never re-quantizes the corpus.",
    tags=("vector", "ann", "quantize", "index"),
)
def v11(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.operators.similarity import (
        SearchConfig,
        quantized_index_search,
    )

    return quantized_index_search(
        _quantized_index(spark, sf_dir), _query_vec(spark, sf_dir, 0),
        k=10, config=SearchConfig.high_accuracy())


@query(
    "v12_array_predicates",
    oracle="""
    SELECT vec_id,
           len(list_filter(embedding, x -> x > 0.2)) > 0 AS any_gt,
           len(list_filter(embedding, x -> abs(x) < 1.0)) = len(embedding) AS all_lt,
           CAST(len(list_filter(embedding, x -> x <> 0)) AS INT) AS nnz,
           ROUND(CAST(embedding[1] AS DOUBLE), 6) AS first_dim,
           ROUND(CAST(embedding[64] AS DOUBLE), 6) AS last_dim
    FROM embeddings
    WHERE vec_id < 200
    ORDER BY vec_id
    """,
    doc="ANY/ALL/NONZERO per-cell predicates + 0-based/negative element "
    "access (cpp/nd/functions.hpp:23-63, expr.hpp:255-269).",
    tags=("vector", "array"),
)
def v12(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.functions.arrays import all_, any_, element, nonzero_count

    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    emb = F.col("embedding")
    return e.select(
        "vec_id",
        any_(F.transform(emb, lambda x: x > 0.2)).alias("any_gt"),
        all_(F.transform(emb, lambda x: F.abs(x) < 1.0)).alias("all_lt"),
        nonzero_count(emb).alias("nnz"),
        F.round(element(emb, 0).cast("double"), 6).alias("first_dim"),
        F.round(element(emb, -1).cast("double"), 6).alias("last_dim"),
    ).orderBy("vec_id")


@query(
    "v13_slice_stats",
    oracle="""
    SELECT vec_id,
           ROUND(list_sum(list_transform(embedding[1:8], x -> CAST(x AS DOUBLE))), 6) AS head_sum,
           ROUND(list_sum(list_transform(embedding[57:64], x -> CAST(x AS DOUBLE))), 6) AS tail_sum
    FROM embeddings
    WHERE vec_id < 100
    ORDER BY vec_id
    """,
    doc="Python-style tensor slicing col[a:b] + per-cell reduction "
    "(slice_expr, expr.hpp:303-318; tql.md:594-604).",
    tags=("vector", "slice"),
)
def v13(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.functions.arrays import array_slice, asum

    from deeplake_spark.functions.arrays import _array_slice_sql

    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    return e.select(
        "vec_id",
        F.round(asum(_array_slice_sql("embedding", 0, 8)), 6).alias("head_sum"),
        F.round(asum(_array_slice_sql("embedding", 56, 64)), 6).alias("tail_sum"),
    ).orderBy("vec_id")


@query(
    "v14_histogram",
    oracle="""
    SELECT vec_id,
           array_to_string(list_transform(range(0, 4), b ->
             CAST(len(list_filter(embedding, x ->
               CAST(x AS DOUBLE) >= -0.4 + b * 0.2 AND CAST(x AS DOUBLE) < -0.4 + (b+1) * 0.2
             )) AS INT)), ',') AS hist
    FROM embeddings
    WHERE vec_id < 50
    ORDER BY vec_id
    """,
    doc="Per-cell HISTOGRAM with equal-width bins (cpp/nd/statistics.hpp:11).",
    tags=("vector", "histogram"),
)
def v14(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.functions.arrays import histogram

    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 50)
    return e.select(
        "vec_id",
        F.array_join(
            F.transform(histogram(F.col("embedding"), -0.4, 0.4, 4), lambda x: x.cast("int")),
            ",",
        ).alias("hist"),
    ).orderBy("vec_id")


@query(
    "v15_tql_ann_topk",
    oracle=None,  # IVF probe set is build-dependent — recall vs exact
    # top-k asserted in tests/test_indexes.py::test_tql_ann_routing
    doc="TQL string `ORDER BY COSINE_SIMILARITY(col, ?) DESC LIMIT k` "
    "routed through the clustered (IVF) index by the translator — the "
    "reference's top-k fast path (cpp/tql/tql.hpp:171, "
    "query_core/top_k_search_info.hpp:17-66). The plan is an nprobe-"
    "pruned cluster scan + TakeOrdered, never a corpus scan.",
    tags=("vector", "ann", "index", "tql"),
)
def v15(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark import tql
    from deeplake_spark.operators.similarity import SearchConfig

    e = load_table(spark, sf_dir, "embeddings")
    idx = _ivf8(spark, sf_dir)
    return tql.query(
        "SELECT vec_id, COSINE_SIMILARITY(embedding, ?) AS score "
        "ORDER BY score DESC LIMIT 10",
        spark=spark,
        default=e,
        params=[_query_vec(spark, sf_dir, 0)],
        indexes={"embedding": ("clustered", idx, "vec_id")},
        search_config=SearchConfig.balanced(),
    )


def _pooled_index(spark: SparkSession, sf_dir: str):
    return saved_index(spark, sf_dir, "pooled", "pooled",
                       lambda: _doc_matrices(spark, sf_dir),
                       "doc_matrix", "doc_id")


@query(
    "v18_tql_maxsim",
    oracle=None,  # 2-stage pooled prefilter is approximate — recall vs
    # exact MAXSIM asserted in tests/test_indexes.py::test_tql_maxsim_routing
    doc="TQL string `ORDER BY MAXSIM(col, ARRAY(...)) DESC LIMIT k` "
    "routed through the persisted pooled index by the translator "
    "(reference PooledQuantized, types.pyi:604-615; nd/norm.hpp:42-56, "
    "tql.md:114-136): pooled-cosine prefilter + exact rerank on "
    "candidates only, never a corpus-wide late-interaction pass.",
    tags=("vector", "maxsim", "tql", "index"),
)
def v18(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark import tql
    from deeplake_spark.operators.similarity import SearchConfig

    qm = _query_mat(spark, sf_dir, 4)
    docs = _doc_matrices(spark, sf_dir)
    return tql.query(
        "SELECT doc_id, MAXSIM(doc_matrix, ?) AS score "
        "ORDER BY score DESC LIMIT 10",
        spark=spark,
        default=docs,
        params=[qm],
        indexes={"doc_matrix": ("pooled", _pooled_index(spark, sf_dir), "doc_id")},
        search_config=SearchConfig.high_accuracy(),
    )


@query(
    "v16_multidim_slice",
    oracle="""
    WITH b AS (
      SELECT vec_id,
             list_transform(range(0, 8),
                            r -> embedding[r*8+1 : r*8+8]) AS boxes
      FROM embeddings WHERE vec_id < 50
    )
    SELECT vec_id,
           array_to_string(list_transform(boxes,
             row -> CAST(round(CAST(row[1] AS DOUBLE) * 1e6) AS BIGINT)), ',') AS col0,
           array_to_string(list_transform(boxes[2],
             x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)), ',') AS row1,
           array_to_string(list_transform(flatten(list_transform(boxes, row -> row[3:4])),
             x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)), ',') AS mid
    FROM b
    ORDER BY vec_id
    """,
    doc="Multi-dim subscripts boxes[:, 0] / boxes[1, :] / boxes[:, 2:4] "
    "over an 8x8 reshape of the embedding (reference slice_expr "
    "multi-dim, expr.hpp:303-318, tql.md:594-604); pure nested-"
    "transform JVM expressions, values emitted as micro-int CSV "
    "(nested arrays can't be hash-compared).",
    tags=("vector", "slice", "tql"),
)
def v16(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark import tql

    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 50)
    # one parsed expr each (trap 12) — the chained transform/slice
    # Columns cost ~10 py4j round trips apiece at construction
    boxes = F.expr(
        "transform(sequence(0, 7), r -> slice(embedding, r * 8 + 1, 8))")
    df = e.select("vec_id", boxes.alias("boxes"))
    out = tql.query(
        "SELECT vec_id, boxes[:, 0] AS col0, boxes[1, :] AS row1, "
        "boxes[:, 2:4] AS mid",
        default=df,
    )

    def csv(c):
        return F.expr(
            f"array_join(transform({c}, x -> cast(cast(round("
            "cast(x as double) * 1e6) as bigint) as string)), ',')")

    return out.select(
        "vec_id",
        csv("col0").alias("col0"),
        csv("row1").alias("row1"),
        csv("flatten(mid)").alias("mid"),
    ).orderBy("vec_id")


@query(
    "v17_nd_broadcast",
    oracle="""
    SELECT vec_id,
           ROUND(list_sum(list_transform(embedding,
                 x -> CASE WHEN CAST(x AS DOUBLE) * 2 + 1 > 1.2
                      THEN 1 ELSE 0 END)), 6) AS n_hot,
           CASE WHEN len(list_filter(embedding,
                 x -> CAST(x AS DOUBLE) > 0.45)) > 0 THEN true ELSE false END AS any_hi
    FROM embeddings
    WHERE vec_id < 100
    ORDER BY vec_id
    """,
    doc="nd broadcasting through the TQL string path: embedding * 2 + 1 "
    "> 1.2 compares element-wise (scalar-vs-array broadcast, reference "
    "nd::array semantics tql.md Array Logic), SUM folds the resulting "
    "mask, ANY reduces a broadcast comparison — all nested JVM HOFs.",
    tags=("vector", "tql", "broadcast"),
)
def v17(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark import tql

    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    out = tql.query(
        "SELECT vec_id, SUM((embedding * 2 + 1 > 1.2)) AS mask_sum, "
        "ANY(embedding > 0.45) AS any_hi ORDER BY vec_id",
        default=e,
    )
    return out.select(
        "vec_id",
        F.round(F.col("mask_sum").cast("double"), 6).alias("n_hot"),
        F.col("any_hi"),
    ).orderBy("vec_id")


@query(
    "v19_pq_search",
    oracle=None,  # ADC candidate set is quantization-dependent — recall
    # gate vs exact top-k in tests/test_operators.py
    doc="Product-quantized ANN through the persisted PQ index (extends "
    "the stored quantized index family, types.pyi:625-632; Jégou et "
    "al. 2011): the probe scores the narrow (id, code[8], anorm) side "
    "table with an ADC lookup expression — ~32x less data than the "
    "raw vectors — TakeOrdereds k*accuracy_factor candidates, then "
    "exact-cosine reranks against the live relation.",
    tags=("vector", "ann", "pq", "index"),
)
def v19(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.operators.similarity import SearchConfig, pq_search

    return pq_search(_pq_index(spark, sf_dir), _query_vec(spark, sf_dir, 0),
                     k=10, config=SearchConfig.high_accuracy())


@query(
    "v20_semantic_decontamination",
    oracle=f"""
    WITH eval_set AS (
      SELECT vec_id + 1000000 AS eval_id,
             list_transform(CAST(embedding AS DOUBLE[]), x -> x * 0.9) AS ev
      FROM embeddings WHERE vec_id < 25
    )
    SELECT e.eval_id, c.vec_id AS corpus_id,
           ROUND({_DUCK_COS.format(a="e.ev", b="c.embedding")}, 6) AS cos
    FROM eval_set e JOIN embeddings c ON c.vec_id = e.eval_id - 1000000
    WHERE {_DUCK_COS.format(a="e.ev", b="c.embedding")} >= 0.99
    ORDER BY eval_id, corpus_id
    """,
    doc="Cross-dataset embedding decontamination (semantic analog of "
    "d08's n-gram benchmark decontamination): find corpus rows that "
    "are embedding-near-duplicates of an eval set via sign-bit LSH "
    "banding BETWEEN the two relations — candidate volume tracks true "
    "cross collisions, never the |eval| x |corpus| product. The eval "
    "set is planted in-query (scaled copies — cosine- and "
    "sign-invariant) and parity is scored on the planted (eval, "
    "source-row) pairs ONLY, where banding recall is provable; a "
    "natural cross near-dup could flip >= bands sign bits and be "
    "legitimately missed by LSH while an exact oracle finds it (the "
    "sweep itself still runs eval x full corpus).",
    tags=("vector", "dedup", "decontamination"),
)
def v20(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.operators.similarity import cross_near_dup_lsh

    e = load_table(spark, sf_dir, "embeddings")
    eval_set = e.filter(F.col("vec_id") < 25).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(F.col("embedding").cast("array<double>"),
                    lambda x: x * 0.9).alias("embedding"),
    )
    # dim passed explicitly (the v08 convention): the dim=None fallback
    # runs a driver head() job at query-construction time
    pairs = cross_near_dup_lsh(eval_set, e, threshold=0.99, dim=64)
    return (
        pairs.filter(F.col("b") == F.col("a") - 1_000_000)
        .select(F.col("a").alias("eval_id"),
                F.col("b").alias("corpus_id"), "cos")
        .orderBy("eval_id", "corpus_id")
    )


@query(
    "v21_embedding_dispersion",
    oracle="""
    WITH sq AS (
      SELECT label,
             list_aggregate(
               list_transform(embedding,
                              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
               'sum') AS sqn
      FROM embeddings
    ),
    dims AS (
      SELECT label,
             generate_subscripts(embedding, 1) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    cent AS (
      SELECT label, dim, AVG(v) AS m FROM dims GROUP BY label, dim
    ),
    cnorm AS (
      SELECT label, SUM(m * m) AS c2 FROM cent GROUP BY label
    ),
    s AS (
      SELECT label, COUNT(*) AS n, AVG(sqn) AS msq FROM sq GROUP BY label
    )
    SELECT s.label,
           CAST(s.n AS BIGINT) AS n_vecs,
           ROUND(s.msq, 6) AS mean_sq_norm,
           ROUND(cnorm.c2, 6) AS centroid_sq_norm,
           ROUND(2.0 * (s.msq - cnorm.c2), 6) AS exp_pair_dist_sq
    FROM s JOIN cnorm USING (label)
    ORDER BY label
    """,
    doc="Per-cluster embedding dispersion: E||x||^2, ||E x||^2, and the "
    "closed-form expected pairwise distance E||x-y||^2 = 2(E||x||^2 - "
    "||Ex||^2) — the diversity diagnostic of an embedding corpus "
    "WITHOUT any pairwise join. Two narrow aggregates (per-row fold + "
    "per-dim posexplode mean); state is labels x dims, never N^2.",
    tags=("vector", "stats", "pipeline"),
)
def v21(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    sqn = F.aggregate(
        "embedding", F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    s = (
        e.select("label", sqn.alias("sqn"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_vecs"), F.avg("sqn").alias("msq"))
    )
    cnorm = (
        e.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(F.avg(F.col("v").cast("double")).alias("m"))
        .groupBy("label")
        .agg(F.sum(F.col("m") * F.col("m")).alias("c2"))
    )
    return (
        s.join(cnorm, "label")
        .select(
            "label",
            "n_vecs",
            F.round(F.col("msq"), 6).alias("mean_sq_norm"),
            F.round(F.col("c2"), 6).alias("centroid_sq_norm"),
            F.round(2.0 * (F.col("msq") - F.col("c2")), 6).alias("exp_pair_dist_sq"),
        )
        .orderBy("label")
    )


@query(
    "v22_norm_outliers",
    oracle="""
    WITH norms AS (
      SELECT label,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS l2
      FROM embeddings
    ),
    s AS (SELECT AVG(l2) AS mu, stddev_samp(l2) AS sd FROM norms)
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CASE WHEN ROUND(abs((l2 - mu) / sd), 6) > 2.0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           ROUND(MAX(ROUND(abs((l2 - mu) / sd), 6)), 6) AS max_abs_z
    FROM norms, s
    GROUP BY label ORDER BY label
    """,
    doc="Embedding-norm outlier screening (the vector-QA pass that "
    "catches collapsed/exploded embeddings before indexing): corpus "
    "mean/std of the L2 norm as a 1-row broadcast aggregate, per-row "
    "z-score (ROUNDED to 6 before the |z|>2 flag so double partial-"
    "aggregation reassociation cannot flip the boundary across "
    "engines), outlier counts per label. Scan -> two tiny aggregates; "
    "no window, no join wider than one broadcast row.",
    tags=("vector", "quality", "pipeline"),
)
def v22(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    norms = e.select("label", l2_norm(F.col("embedding")).alias("__l2"))
    s = norms.agg(F.avg("__l2").alias("__mu"),
                  F.stddev_samp("__l2").alias("__sd"))
    z = F.round(
        F.abs((F.col("__l2") - F.col("__mu")) / F.col("__sd")), 6)
    return (
        norms.crossJoin(F.broadcast(s))
        .select("label", z.alias("__z"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum((F.col("__z") > 2.0).cast("long")).alias("n_outliers"),
            F.round(F.max("__z"), 6).alias("max_abs_z"),
        )
        .orderBy("label")
    )


@query(
    "v23_ivf_batch_knn",
    oracle=None,  # index-routed: result depends on the trained IVF cells
    doc="Batched kNN through the persisted IVF index: the whole query "
    "set resolves in ONE pruned corpus pass — queries route to their "
    "nprobe cells in-plan (no driver collect of the query relation), "
    "the (qid, cluster) routing broadcast-joins the cluster-"
    "partitioned assignments (each partition read once regardless of "
    "query count), per-qid window top-k. Exactness vs the single-query "
    "ivf_search and recall vs brute force are pinned in "
    "tests/test_indexes.py.",
    tags=("vector", "index", "batch"),
)
def v23(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.operators.similarity import ivf_search_batch

    e = load_table(spark, sf_dir, "embeddings")
    idx = _ivf8(spark, sf_dir)
    queries = (e.filter(F.col("vec_id") < 8)
               .select(F.col("vec_id").alias("qid"),
                       F.col("embedding").alias("qv")))
    return ivf_search_batch(idx, queries, k=5).orderBy("qid", F.desc("score"),
                                                       "vec_id")

@query(
    "v24_semantic_dedup",
    oracle=f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000,
             list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.1)
      FROM embeddings WHERE vec_id < 20
    ),
    cent AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cid,
             emb AS cv
      FROM (SELECT vec_id, emb FROM base ORDER BY vec_id LIMIT 8)
    ),
    scored AS (
      SELECT b.vec_id, b.emb, c.cid,
             {_DUCK_COS.format(a="b.emb", b="c.cv")} AS sim
      FROM base b CROSS JOIN cent c
    ),
    assign AS (
      SELECT vec_id, emb, cid, sim FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
        FROM scored) WHERE rn = 1
    ),
    dropped AS (
      SELECT DISTINCT a.vec_id
      FROM assign a JOIN assign b
        ON a.cid = b.cid AND a.vec_id <> b.vec_id
      WHERE {_DUCK_COS.format(a="a.emb", b="b.emb")} >= 0.95
        AND (b.sim < a.sim OR (b.sim = a.sim AND b.vec_id < a.vec_id))
    )
    SELECT assign.cid AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped
    FROM assign LEFT JOIN dropped d ON assign.vec_id = d.vec_id
    GROUP BY cluster_id ORDER BY cluster_id
    """,
    doc="SemDeDup-style semantic dedup (Abbas et al. 2023): max-cosine "
    "centroid assignment (map-only vs broadcast centroid literals), "
    "then within-cluster >=tau duplicates drop in favor of the "
    "least-centroid-similar member (ids break exact ties). Planted "
    "1.1x-scaled copies (cosine-invariant, the v08 protocol) guarantee "
    "drops at any tau; the tau filter and the dominance comparison both "
    "use UNROUNDED doubles computed identically on both engines. "
    "Centroids are the 8 smallest-id embeddings (deterministic seed "
    "protocol — production passes build_ivf's k-means centroids). "
    "Pair work is O(sum cluster_size^2) keyed on cluster only; the "
    "components policy (the paper's connected-component grouping) is "
    "exercised in tests/test_operators.py.",
    tags=("vector", "dedup"),
)
def v24(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.operators.similarity import seed_centroids, semantic_dedup

    base = load_table(spark, sf_dir, "embeddings")
    key = (session_key(spark), sf_dir)
    planted = base.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(F.col("embedding").cast("array<double>"),
                    lambda x: x * 1.1).alias("embedding"),
    )
    e = base.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).unionByName(planted)
    # centroid seeding is a build-at-ingest step (the _ivf8 protocol):
    # memoize the k-row collect per (session, sf_dir)
    centroids = memo.SEED_CACHE.get(key, lambda: seed_centroids(e, k=8))
    sd = semantic_dedup(e, centroids=centroids, tau=0.95)
    return (
        sd.groupBy(F.col("cluster").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum((~F.col("kept")).cast("long")).alias("n_dropped"),
        )
        .orderBy("cluster_id")
    )


@query(
    "v25_knn_label_propagation",
    oracle=f"""
    WITH masked AS (
      SELECT vec_id, embedding,
             CASE WHEN vec_id % 5 = 0 THEN NULL ELSE label END AS label
      FROM embeddings
    ),
    q AS (SELECT vec_id AS qid, embedding AS qv FROM masked
          WHERE label IS NULL),
    l AS (SELECT vec_id, embedding, label FROM masked
          WHERE label IS NOT NULL),
    scored AS (
      SELECT q.qid, l.vec_id, l.label AS nl,
             ROUND({_DUCK_COS.format(a="l.embedding", b="q.qv")}, 6) AS score
      FROM l, q
    ),
    ranked AS (
      SELECT qid, vec_id, nl, score,
             row_number() OVER (
               PARTITION BY qid ORDER BY score DESC, vec_id) AS rnk
      FROM scored
    ),
    votes AS (
      SELECT qid, nl, COUNT(*) AS c FROM ranked WHERE rnk <= 5
      GROUP BY qid, nl
    ),
    win AS (
      SELECT qid, nl, c, row_number() OVER (
        PARTITION BY qid ORDER BY c DESC, nl) AS vr
      FROM votes
    )
    SELECT qid AS vec_id, CAST(nl AS INT) AS pred_label,
           CAST(c AS BIGINT) AS votes
    FROM win WHERE vr = 1 ORDER BY vec_id
    """,
    doc="k-NN label propagation (auto-labeling): every 5th row's label "
    "is masked NULL and re-derived as the majority label of its 5 "
    "nearest labeled neighbors by cosine (weak supervision over a "
    "seed label set). Exact lane = the v06 batched-kNN shape "
    "(broadcast queries, per-qid window — partitioned, not global); "
    "both tie-breaks deterministic (rounded score DESC + id, then "
    "votes DESC + label). NOTE: the registered lane here IS the exact "
    "oracle arm — a broadcast NLJ whose cost is O(labeled x "
    "unlabeled), QUADRATIC by design (the price of an exactly "
    "DuckDB-checkable oracle; the most expensive vector query in the "
    "bench for that reason). The corpus-scale lane routes the same "
    "operator through ivf_search_batch with a FIXED nprobe (one "
    "pruned corpus pass; SCALING.md 'knn label propagation' ladder); "
    "lane agreement at full probe is pinned in tests.",
    tags=("vector", "labels", "knn"),
)
def v25(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.operators.similarity import knn_label_propagation

    e = load_table(spark, sf_dir, "embeddings")
    masked = e.select(
        "vec_id", "embedding",
        F.when(F.col("vec_id") % 5 == 0, F.lit(None)).otherwise(
            F.col("label")).alias("label"),
    )
    return knn_label_propagation(masked, k=5).orderBy("vec_id")


@query(
    "v26_matryoshka_topk",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    cands AS (
      SELECT vec_id, embedding,
             ROUND({_DUCK_COS.format(a="embedding[1:8]", b="q.qv[1:8]")},
                   6) AS coarse_score
      FROM embeddings, q
      ORDER BY coarse_score DESC, vec_id
      LIMIT 40
    )
    SELECT c.vec_id, c.coarse_score,
           ROUND({_DUCK_COS.format(a="c.embedding", b="q.qv")}, 6) AS score
    FROM cands c, q
    ORDER BY score DESC, c.vec_id
    LIMIT 10
    """,
    doc="Matryoshka coarse-to-fine top-k "
    "(similarity.mrl_prefilter_topk, Kusupati et al. 2022): rank by "
    "cosine over the 8-component MRL prefix, keep k*refine=40 "
    "candidates via TakeOrderedAndProject, exact full-dim rerank of "
    "candidates only. The candidate cut orders by the ROUNDED coarse "
    "score + id (the engine-portable-boundary convention), so DuckDB "
    "replays the funnel bit-for-bit. At 100 TB the prefix is its own "
    "ingest-time column: the coarse scan reads dims/D of the bytes "
    "and full vectors are fetched only for candidates.",
    tags=("vector", "topk", "mrl"),
)
def v26(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.operators.similarity import mrl_prefilter_topk

    e = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir, 0)
    return mrl_prefilter_topk(e, "embedding", qv, k=10, dims=8, refine=4)


@query(
    "v27_hard_negative_mining",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qv, label AS qlabel
      FROM embeddings WHERE vec_id < 8 AND label IS NOT NULL
    ),
    scored AS (
      SELECT q.qid, e.vec_id, e.label,
             ROUND({_DUCK_COS.format(a="e.embedding", b="q.qv")}, 6)
             AS score
      FROM embeddings e, q
      WHERE e.label IS NOT NULL AND e.label <> q.qlabel
        AND e.vec_id <> q.qid
    ),
    ranked AS (
      SELECT qid, vec_id, label, score,
             row_number() OVER (
               PARTITION BY qid ORDER BY score DESC, vec_id) AS rnk
      FROM scored
    )
    SELECT qid, CAST(rnk AS INT) AS rank, vec_id,
           CAST(label AS INT) AS label, score
    FROM ranked WHERE rnk <= 5
    ORDER BY qid, rank
    """,
    doc="Hard-negative mining for contrastive training (DPR/Contriever "
    "— Karpukhin et al. 2020): for each of 8 query vectors, the 5 "
    "most-similar corpus rows with a DIFFERENT label — semantically "
    "close but wrong-class, the negatives that actually move a "
    "contrastive loss. Exact lane = the v06 batched-kNN shape "
    "(broadcast queries, label-mismatch filter, per-query window "
    "top-k; rounded-score-DESC + id tie rule, engine-exact). The "
    "corpus-scale lane routes candidates through ivf_search_batch "
    "with 4x over-fetch (the label filter only shrinks a probed "
    "set); lane agreement at full probe is pinned in tests.",
    tags=("vector", "labels", "contrastive"),
)
def v27(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.operators.similarity import hard_negative_mining

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"),
        F.col("label").alias("qlabel"))
    return hard_negative_mining(e, q, k=5).orderBy("qid", "rank")


@query(
    "v28_class_balance",
    oracle="""
    WITH u AS (
      SELECT vec_id, label,
             CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)
                  || '#balance'), 1, 8)) AS UBIGINT)
             / 4294967296.0 AS unif
      FROM embeddings WHERE label IS NOT NULL
    ),
    r AS (
      SELECT label, vec_id, unif,
             row_number() OVER (
               PARTITION BY label ORDER BY unif, vec_id) AS rk
      FROM u
    ),
    m AS (
      SELECT MIN(cnt) AS t
      FROM (SELECT COUNT(*) AS cnt FROM u GROUP BY label)
    ),
    kept AS (SELECT label, vec_id FROM r, m WHERE r.rk <= m.t)
    SELECT CAST(label AS INT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(vec_id) AS BIGINT) AS sum_ids
    FROM kept GROUP BY label ORDER BY label
    """,
    doc="Class-balanced downsampling (operators/sampling.class_balance "
    "— classifier-training prep): every label keeps exactly the "
    "minority class's row count, rows selected by the engine-portable "
    "md5 uniform over the id, so the kept SET is engine-exact — "
    "sum_ids hash-pins WHICH rows were kept, not just how many. The "
    "minority count is a broadcast 1-row aggregate inside the plan "
    "(no driver count); the rank window is label-partitioned. One "
    "label-keyed shuffle at any scale.",
    tags=("sampling", "labels", "pipeline"),
)
def v28(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.operators.sampling import class_balance

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    kept = class_balance(e, label_col="label", id_col="vec_id")
    return (kept.groupBy("label")
            .agg(F.count(F.lit(1)).cast("long").alias("n_kept"),
                 F.sum("vec_id").cast("long").alias("sum_ids"))
            .orderBy("label"))


def _mmr_oracle(p: int = 20, k: int = 6, lam: float = 0.7) -> str:
    """Unrolled-greedy MMR oracle: the greedy argmax is sequential, but
    with k FIXED it unrolls into k chained CTE stages (each ORDER BY
    rounded-mmr DESC, id LIMIT 1 over the not-yet-selected pool) — so
    the iterative operator still gets an EXACT hash-checked oracle
    instead of the rows-only lane iterative algorithms usually take.
    Float discipline: rel and pairwise sims are ROUND(...,6) on both
    sides; the mmr combine embeds repr(lam)/repr(1-lam) so DuckDB
    parses the EXACT doubles Python computes with. The pool CTE
    excludes NULL-rel (zero-norm) rows explicitly — mmr_select filters
    them, and DuckDB's NULLS LAST would otherwise admit them to the
    pool tail on a corpus with < pool non-zero vectors (r14 advice
    #2)."""
    la, mu = repr(float(lam)), repr(1.0 - float(lam))
    cos_q = _DUCK_COS.format(a="embedding", b="q.qv")
    cos_ab = _DUCK_COS.format(a="a.embedding", b="b.embedding")
    sql = f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    pool AS (
      SELECT vec_id, embedding, ROUND({cos_q}, 6) AS rel
      FROM embeddings, q
      WHERE {cos_q} IS NOT NULL
      ORDER BY rel DESC, vec_id LIMIT {p}
    ),
    pairs AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib, ROUND({cos_ab}, 6) AS s
      FROM pool a, pool b WHERE a.vec_id <> b.vec_id
    ),
    s1 AS (
      SELECT CAST(1 AS INT) AS mmr_rank, vec_id, rel,
             ROUND({la} * rel, 6) AS mmr_score
      FROM pool ORDER BY mmr_score DESC, vec_id LIMIT 1
    )"""
    prev = ["s1"]
    for i in range(2, int(k) + 1):
        sel = " UNION ALL ".join(f"SELECT vec_id FROM {s}" for s in prev)
        sql += f""",
    s{i} AS (
      SELECT CAST({i} AS INT) AS mmr_rank, p.vec_id, p.rel,
             ROUND({la} * p.rel - {mu} * MAX(pr.s), 6) AS mmr_score
      FROM pool p JOIN pairs pr ON pr.ia = p.vec_id
      WHERE pr.ib IN ({sel}) AND p.vec_id NOT IN ({sel})
      GROUP BY p.vec_id, p.rel
      ORDER BY mmr_score DESC, p.vec_id LIMIT 1
    )"""
        prev.append(f"s{i}")
    body = " UNION ALL ".join(f"SELECT * FROM {s}" for s in prev)
    return sql + f"\n    {body}\n    ORDER BY mmr_rank"


@query(
    "v29_mmr_diverse_topk",
    oracle=_mmr_oracle(p=20, k=6, lam=0.7),
    doc="Maximal Marginal Relevance diverse top-k "
    "(similarity.mmr_select, Carbonell & Goldstein 1998): greedy "
    "lam*rel - (1-lam)*max-sim-to-selected over a rounded-score top-20 "
    "candidate pool — the diverse-retrieval selection where plain "
    "top-k returns near-copies. Pool cut + pairwise sims run in Spark "
    "(TakeOrdered + a broadcast <-join over pool rows); the greedy is "
    "O(k*pool) driver-side over the bounded collected pool (the "
    "mrl/PQ driver-fit convention). Oracle: the greedy UNROLLS into "
    "k chained argmax CTEs, so the iterative operator is exactly "
    "hash-checked, not rows-only.",
    tags=("vector", "topk", "diversity"),
)
def v29(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.operators.similarity import mmr_select

    e = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir, 0)
    return mmr_select(e, "embedding", qv, k=6, lam=0.7, pool=20)


@query(
    "v30_filtered_topk",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, label,
           ROUND({_DUCK_COS.format(a="embedding", b="q.qv")}, 6) AS score
    FROM embeddings, q
    WHERE label IN (3, 7)
    ORDER BY score DESC, vec_id
    LIMIT 10
    """,
    doc="Filtered vector search — top-k cosine under a metadata "
    "predicate (the WHERE + ORDER BY sim LIMIT k combination every "
    "vector store special-cases): this registered lane is the EXACT "
    "arm — the filter pushes to the parquet scan and the top-k is a "
    "TakeOrderedAndProject over survivors. The index lane is "
    "similarity.ivf_search(candidates=, candidate_selectivity=) — the "
    "reference's roaring-rowset filter+search (index_holder.hpp:30-36) "
    "as a post-prune semijoin with 1/selectivity nprobe widening so "
    "filtered recall holds (pinned in tests/test_indexes.py).",
    tags=("vector", "topk", "filter"),
)
def v30(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec_sql(spark, sf_dir, 0)
    return (
        e.filter(F.col("label").isin(3, 7))
        .select(
            "vec_id", "label",
            F.round(cosine_similarity("embedding", qv), 6)
            .alias("score"))
        .orderBy(F.desc("score"), "vec_id")
        .limit(10)
    )


def _diversity_oracle(p: int = 20, k: int = 6, lam: float = 0.7) -> str:
    """v31 oracle: reuse the unrolled-greedy MMR CTE chain (the v29
    machinery — pool/pairs/s1..sk are byte-identical so both lanes
    replay the same selection), then compare the mean pairwise
    rounded sim INSIDE the plain top-k set vs inside the MMR set.
    Averages of rounded pair sims, ROUND(...,6) emitted (CLAUDE.md
    float discipline); the gain subtracts the two ROUNDED averages."""
    base = _mmr_oracle(p=p, k=k, lam=lam)
    # strip the final UNION-ALL select: keep the WITH chain, re-close
    # it with the diversity comparison instead
    head, _, _tail = base.rpartition(")")
    sel = " UNION ALL ".join(
        f"SELECT vec_id FROM s{i}" for i in range(1, int(k) + 1))
    return f"""{head}),
    topk AS (SELECT vec_id FROM pool ORDER BY rel DESC, vec_id LIMIT {k}),
    mmrk AS ({sel}),
    tp AS (SELECT ROUND(AVG(s), 6) AS v FROM pairs
           WHERE ia < ib AND ia IN (SELECT vec_id FROM topk)
             AND ib IN (SELECT vec_id FROM topk)),
    mp AS (SELECT ROUND(AVG(s), 6) AS v FROM pairs
           WHERE ia < ib AND ia IN (SELECT vec_id FROM mmrk)
             AND ib IN (SELECT vec_id FROM mmrk))
    SELECT CAST({k} AS INT) AS k,
           tp.v AS avg_sim_topk,
           mp.v AS avg_sim_mmr,
           ROUND(tp.v - mp.v, 6) AS diversity_gain
    FROM tp, mp
    """


@query(
    "v31_mmr_diversity_gain",
    oracle=_diversity_oracle(p=20, k=6, lam=0.7),
    doc="Diversity audit of MMR vs plain top-k (the metric that "
    "justifies v29's diverse retrieval): mean pairwise rounded cosine "
    "INSIDE the plain top-6 set vs inside the MMR-selected 6 — MMR "
    "trades relevance for spread, so its intra-set similarity must be "
    "lower; diversity_gain is the drop. Selection replays v29's exact "
    "machinery (same pool cut, same unrolled-greedy oracle CTEs); the "
    "pairwise averages run engine-side over the bounded pool pairs. "
    "One corpus pass (the pool TakeOrdered) at any scale.",
    tags=("vector", "diversity", "stats"),
)
def v31(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE corpus pass (r15 opt): the former spelling ran the pool
    # TakeOrdered corpus pass FOUR times (mmr_select's own cut, the
    # separate `pool` frame, topk re-executing it, the mmrk fetch-back
    # join) plus two pair-join aggregate jobs. Both selections and both
    # intra-set averages derive from the SAME bounded collected pool —
    # the v29 driver-fit exception class — with pair sims from the
    # exact left-fold twin (_fold_cosine, pinned equal in
    # tests/test_operators); the greedy replay is byte-identical to
    # v29's, so the oracle CTE chain carries over unchanged.
    from deeplake_spark.operators.similarity import (
        _mmr_greedy, _mmr_pool_rows, _rnd6)

    e = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir, 0)
    k = 6
    rows = _mmr_pool_rows(e, "embedding", qv, pool=20)
    out, sims, _rels = _mmr_greedy(rows, k=k, lam=0.7)
    # pool rows arrive in (rel DESC, vec_id) order — the oracle's topk
    # CTE is exactly the first k of the pool
    topk_ids = [r[0] for r in rows[:k]]
    mmr_ids = [t[1] for t in out]

    def avg_sim(ids):
        # mean of the ROUNDED pair sims inside the set, pairs iterated
        # (ia < ib) in sorted order — the oracle's AVG over its pairs
        # CTE restricted to the set
        ss = sorted(ids)
        vals = [sims[(a, b)] for i, a in enumerate(ss)
                for b in ss[i + 1:]]
        acc = 0.0
        for v in vals:
            acc += v
        return _rnd6(acc / len(vals)) if vals else None

    tp, mp = avg_sim(topk_ids), avg_sim(mmr_ids)
    gain = _rnd6(tp - mp) if tp is not None and mp is not None else None
    from pyspark.sql import types as T
    schema = T.StructType([
        T.StructField("k", T.IntegerType()),
        T.StructField("avg_sim_topk", T.DoubleType()),
        T.StructField("avg_sim_mmr", T.DoubleType()),
        T.StructField("diversity_gain", T.DoubleType())])
    return spark.createDataFrame([(k, tp, mp, gain)], schema)
