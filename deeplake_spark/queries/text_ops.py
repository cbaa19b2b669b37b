"""Text search + text-analysis queries over the `documents` table.

Covers TQL text operators (SURVEY §2.9/§2.10): CONTAINS / EQUALS /
glob-LIKE / ILIKE, BM25_SIMILARITY, inverted-index build primitives,
plus the training-data-pipeline text analysis ops: language ID,
quality scoring, token counting, document fingerprinting.

Scale notes: every query is scan → narrow shuffle (term- or key-keyed
aggregations). BM25's document-frequency side is a per-query-term
aggregate (a handful of rows) and is broadcast; corpus stats (N, avgdl)
are 1-row broadcasts. Nothing here collects data to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deeplake_spark import memo
from deeplake_spark.functions.text import (
    contains_keyword,
    fingerprint,
    glob_like,
    predict_lang,
    quality_features,
    quality_score,
    tokenize,
)
from deeplake_spark.io import load_table
from deeplake_spark.queries import query, saved_index

#: DuckDB tokenizer mirroring functions.text.tokenize
_DUCK_TOKS = "list_filter(string_split_regex(lower({c}), '\\s+'), t -> t <> '')"


@query(
    "t01_contains",
    oracle=f"""
    SELECT lang, COUNT(*) AS n_docs
    FROM documents
    WHERE list_contains({_DUCK_TOKS.format(c="text")}, 'spark')
    GROUP BY lang ORDER BY lang
    """,
    doc="CONTAINS(col,'kw') token membership (cpp/nd/functions.hpp:71, "
    "text_search_info::contains) — the inverted-index probe predicate.",
    tags=("text", "filter"),
)
def t01(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.filter(contains_keyword(F.col("text"), "spark"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang")
    )


@query(
    "t02_equals",
    oracle="""
    SELECT source, COUNT(*) AS n_docs
    FROM documents WHERE lang = 'en'
    GROUP BY source ORDER BY source
    """,
    doc="EQUALS(col,'txt') whole-string match (tql.md:187-191, Exact index).",
    tags=("text", "filter"),
)
def t02(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.filter(F.col("lang") == "en")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("source")
    )


@query(
    "t03_glob_like",
    oracle="""
    SELECT doc_id, source
    FROM documents
    WHERE source LIKE 'src1_' AND text LIKE 'the %'
    ORDER BY doc_id
    """,
    doc="TQL glob LIKE: '*'/'?' wildcards translated to anchored regex "
    "(tql.md:207-228 — glob, NOT SQL %/_).",
    tags=("text", "like"),
)
def t03(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.filter(glob_like(F.col("source"), "src1?") & glob_like(F.col("text"), "the *"))
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


def _duck_langid(toks_expr: str) -> str:
    """DuckDB replica of functions.text.predict_lang (argmax of stopword
    ratios, lexicographically-greatest language on ties, 'und' if all 0)."""
    from deeplake_spark.functions.text import STOPWORDS

    scores = []
    for lang, words in sorted(STOPWORDS.items()):
        lst = "[" + ", ".join(f"'{w}'" for w in words) + "]"
        scores.append(
            f"len(list_filter({toks_expr}, t -> list_contains({lst}, t)))::DOUBLE"
            f" / greatest(len({toks_expr}), 1) AS s_{lang}"
        )
    return ", ".join(scores)


@query(
    "t04_langid",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang, {_duck_langid(_DUCK_TOKS.format(c="text"))}
      FROM documents
    ),
    pred AS (
      SELECT doc_id, lang,
             CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                  WHEN s_fr = greatest(s_de, s_en, s_es, s_fr) THEN 'fr'
                  WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                  WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                  ELSE 'de' END AS predicted
      FROM scored
    )
    SELECT predicted, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN predicted = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
    FROM pred GROUP BY predicted ORDER BY predicted
    """,
    doc="n-gram/stopword-heuristic language ID (training-pipeline op); "
    "deterministic argmax with lexicographic tiebreak.",
    tags=("text", "langid"),
)
def t04(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.io import ensure_parallelism

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    # tokens projected before predict_lang references them per-language
    # (perf trap 3: an inlined tokenize re-evaluates inside every score)
    toks = d.select("lang", tokenize("text").alias("__w"))
    return (
        toks.select("lang", predict_lang("__w").alias("predicted"))
        .groupBy("predicted")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("predicted") == F.col("lang")).cast("int")).alias("n_agree"),
        )
        .orderBy("predicted")
    )


@query(
    "t05_quality_scores",
    oracle=f"""
    WITH feat AS (
      SELECT doc_id,
             len({_DUCK_TOKS.format(c="text")}) AS n_tokens,
             CASE WHEN len({_DUCK_TOKS.format(c="text")}) > 0
                  THEN len(list_distinct({_DUCK_TOKS.format(c="text")}))::DOUBLE
                       / len({_DUCK_TOKS.format(c="text")})
                  ELSE 0.0 END AS unique_token_ratio,
             CASE WHEN length(text) > 0
                  THEN (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))::DOUBLE
                       / length(text)
                  ELSE 0.0 END AS punct_ratio
      FROM documents
    )
    SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
           ROUND(unique_token_ratio, 6) AS unique_token_ratio,
           ROUND(0.4 * least(n_tokens::DOUBLE / 50.0, 1.0)
               + 0.4 * unique_token_ratio
               + 0.2 * (1.0 - punct_ratio), 6) AS quality
    FROM feat
    WHERE doc_id < 200
    ORDER BY doc_id
    """,
    doc="Composite document quality scoring (length/diversity/punct "
    "ratios) — C4/Gopher-style filter features as pure Column exprs.",
    tags=("text", "quality"),
)
def t05(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    feats = quality_features("text")
    return d.select(
        "doc_id",
        feats["n_tokens"].cast("int").alias("n_tokens"),
        F.round(feats["unique_token_ratio"], 6).alias("unique_token_ratio"),
        quality_score("text").alias("quality"),
    ).orderBy("doc_id")


@query(
    "t06_token_counts",
    oracle=f"""
    SELECT source,
           CAST(SUM(len({_DUCK_TOKS.format(c="text")})) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           ROUND(AVG(len({_DUCK_TOKS.format(c="text")})), 6) AS avg_tokens
    FROM documents GROUP BY source ORDER BY source
    """,
    doc="Token-budget accounting per source (whitespace tokenizer).",
    tags=("text", "tokens"),
)
def t06(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(tokenize("text"))
    return (
        d.select("source", n_tok.alias("nt"), "n_chars")
        .groupBy("source")
        .agg(
            F.sum("nt").alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.avg("nt"), 6).alias("avg_tokens"),
        )
        .orderBy("source")
    )


@query(
    "t07_fingerprint",
    oracle="""
    SELECT doc_id,
           CASE WHEN length(lower(text)) = 0 THEN 0
                ELSE list_reduce(
                       list_transform(range(1, length(lower(text)) + 1),
                                      i -> ascii(substring(lower(text), i, 1))::BIGINT),
                       (a, b) -> (a * 31 + b) % 1000000007)
           END AS fp
    FROM documents WHERE doc_id < 100 ORDER BY doc_id
    """,
    doc="Polynomial rolling-hash document fingerprint (mod 1e9+7) — "
    "dedup bookkeeping hash, engine-reproducible.",
    tags=("text", "fingerprint"),
)
def t07(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return d.select("doc_id", fingerprint(F.col("text")).alias("fp")).orderBy("doc_id")


# ---------------------------------------------------------------------------
# BM25 — reference: BM25 index + ORDER BY BM25_SIMILARITY (tql.md:170-176,
# deeplake_pg/index_search.cpp:135-170). Implemented as the textbook
# Okapi BM25 pipeline over DataFrames; the posting/DF tables are what the
# batch-built inverted index materializes (SURVEY §4.3).

_BM25_K1 = 1.2
_BM25_B = 0.75


def bm25_scores(d: DataFrame, terms: list[str], k1: float = _BM25_K1, b: float = _BM25_B) -> DataFrame:
    """Per-document BM25 score for a bag of query terms.

    Plan shape: tokenize → explode (term,doc) pairs filtered to query
    terms → tf agg → broadcast-join tiny df/idf and corpus stats.
    explode_outer + an OUTPUT filter (CLAUDE.md trap 2): a plain
    explode lets Catalyst infer `size(toks) > 0` on the generator
    input and push it — with the tokenize inlined — into the scan,
    re-evaluating it per row inside the scan's own partitioning.
    """
    # no repartition here: the tokenize runs inside the scan's own
    # splits (plentiful on any real table), and a forced exchange of the
    # full text column costs more than it buys even on the small local
    # single-file scans (measured: t10 2.3s -> 7.0s with it)
    toks = d.select(F.col("doc_id"), tokenize("text").alias("toks"))
    dl = toks.select("doc_id", F.size("toks").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    term_lit = F.array(*[F.lit(t) for t in terms])
    tf = (
        toks.select("doc_id", F.explode_outer("toks").alias("term"))
        .filter(F.array_contains(term_lit, F.col("term")))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = df_.crossJoin(F.broadcast(stats)).select(
        "term",
        F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0).alias("idf"),
    )
    return (
        tf.join(F.broadcast(idf), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats.select("avgdl")))
        .select(
            "doc_id",
            (
                F.col("idf")
                * (F.col("tf") * (k1 + 1))
                / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
            ).alias("term_score"),
        )
        .groupBy("doc_id")
        .agg(F.sum("term_score").alias("bm25"))
    )


def _duck_bm25(terms: list[str], k1: float = _BM25_K1, b: float = _BM25_B) -> str:
    lst = "[" + ", ".join(f"'{t}'" for t in terms) + "]"
    toks = _DUCK_TOKS.format(c="text")
    return f"""
    WITH toks AS (SELECT doc_id, {toks} AS t FROM documents),
    dl AS (SELECT doc_id, len(t) AS dl FROM toks),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(t) AS term FROM toks)
      WHERE list_contains({lst}, term)
      GROUP BY doc_id, term
    ),
    idf AS (
      SELECT term, ln((stats.n_docs - df + 0.5) / (df + 0.5) + 1.0) AS idf
      FROM (SELECT term, COUNT(*) AS df FROM tf GROUP BY term), stats
    ),
    scored AS (
      SELECT tf.doc_id,
             SUM(idf.idf * (tf.tf * ({k1} + 1))
                 / (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / stats.avgdl))) AS bm25
      FROM tf JOIN idf USING (term) JOIN dl USING (doc_id), stats
      GROUP BY tf.doc_id
    )
    """


@query(
    "t08_bm25_topk",
    oracle=_duck_bm25(["spark", "join", "vector"])
    + """
    SELECT doc_id, ROUND(bm25, 6) AS bm25
    FROM scored
    ORDER BY bm25 DESC, doc_id
    LIMIT 15
    """,
    doc="ORDER BY BM25_SIMILARITY(col, 'query') LIMIT k (tql.md:170-176); "
    "Okapi BM25 with broadcast df/idf sides.",
    tags=("text", "bm25", "topk"),
)
def t08(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        bm25_scores(d, ["spark", "join", "vector"])
        .select("doc_id", F.round("bm25", 6).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(15)
    )


def _inv_index(spark: SparkSession, sf_dir: str):
    return saved_index(spark, sf_dir, "inv", "inverted",
                       lambda: load_table(spark, sf_dir, "documents"),
                       "text", "doc_id")


@query(
    "t13_tql_bm25_topk",
    oracle=_duck_bm25(["spark", "join", "vector"])
    + """
    SELECT doc_id, ROUND(bm25, 6) AS score
    FROM scored
    ORDER BY score DESC, doc_id
    LIMIT 10
    """,
    doc="TQL string `ORDER BY BM25_SIMILARITY(text, 'query') DESC "
    "LIMIT k` routed through the persisted inverted index by the "
    "translator (tql.md:170-176, deeplake_pg/index_search.cpp:135-170): "
    "the plan probes posting parquet, never tokenizes the corpus.",
    tags=("text", "bm25", "topk", "tql", "index"),
)
def t13(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark import tql

    d = load_table(spark, sf_dir, "documents")
    return tql.query(
        "SELECT doc_id, BM25_SIMILARITY(text, 'spark join vector') AS score "
        "ORDER BY score DESC LIMIT 10",
        spark=spark,
        default=d,
        indexes={"text": ("inverted", _inv_index(spark, sf_dir), "doc_id")},
    )


@query(
    "t09_inverted_df",
    oracle=f"""
    SELECT term, COUNT(*) AS df
    FROM (SELECT doc_id, unnest(list_distinct({_DUCK_TOKS.format(c="text")})) AS term
          FROM documents)
    GROUP BY term
    ORDER BY df DESC, term
    LIMIT 20
    """,
    doc="Inverted-index build primitive: term → document frequency "
    "posting stats (types.pyi TextIndex Inverted; SURVEY §4.3).",
    tags=("text", "index"),
)
def t09(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.io import ensure_parallelism

    d = load_table(spark, sf_dir, "documents")
    # project the token set first, then explode_outer + OUTPUT filter —
    # a plain explode over the inlined tokenize pushes `size(...) > 0`
    # (tokenize re-evaluated) into the scan (CLAUDE.md trap 2/3)
    toks = ensure_parallelism(d).select(
        F.array_distinct(tokenize("text")).alias("__toks"))
    return (
        toks.select(F.explode_outer("__toks").alias("term"))
        .filter(F.col("term").isNotNull())
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), "term")
        .limit(20)
    )


#: hybrid fusion candidate budget: k * accuracy_factor (the reference
#: fuses two top-N score LISTS, never corpus-wide score relations —
#: hybrid_query_merge.hpp:27-149 takes the two result lists as input)
_HYBRID_K = 10
_HYBRID_N = 50


@query(
    "t10_hybrid_search",
    oracle=_duck_bm25(["spark", "vector"])
    + f""",
    bl AS (
      SELECT doc_id, ROUND(bm25, 6) AS bm25 FROM scored
      ORDER BY ROUND(bm25, 6) DESC, doc_id LIMIT {_HYBRID_N}
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    vec AS (
      SELECT vec_id AS doc_id,
             list_dot_product(CAST(embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])) /
             (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
              sqrt(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[])))) AS cos
      FROM embeddings, q
    ),
    vl AS (
      SELECT doc_id, ROUND(cos, 6) AS cos FROM vec
      ORDER BY ROUND(cos, 6) DESC, doc_id LIMIT {_HYBRID_N}
    ),
    bn AS (SELECT MAX(bm25) AS mb FROM bl),
    bs AS (SELECT SUM(exp(bm25 - bn.mb)) AS sb FROM bl, bn),
    bw AS (SELECT doc_id, exp(bm25 - bn.mb) / bs.sb AS wb FROM bl, bn, bs),
    vn AS (SELECT MAX(cos) AS mc FROM vl),
    vs AS (SELECT SUM(exp(cos - vn.mc)) AS sc FROM vl, vn),
    vw AS (SELECT doc_id, exp(cos - vn.mc) / vs.sc AS wc FROM vl, vn, vs)
    SELECT COALESCE(bw.doc_id, vw.doc_id) AS doc_id,
           ROUND(0.5 * COALESCE(wb, 0.0) + 0.5 * COALESCE(wc, 0.0), 9) AS fused
    FROM bw FULL OUTER JOIN vw ON bw.doc_id = vw.doc_id
    ORDER BY fused DESC, doc_id
    LIMIT {_HYBRID_K}
    """,
    doc="Hybrid vector+BM25 fusion over CANDIDATE LISTS: top-N each "
    "side (N = k*accuracy_factor), softmax-normalize each list, "
    "weighted sum over the union, top-k — the reference fuses two "
    "top-N score lists (hybrid_query_merge.hpp:27-149), so the fusion "
    "cost is O(N), independent of corpus size. Scores are rounded "
    "before the cut so the candidate sets are engine-deterministic.",
    tags=("text", "vector", "hybrid"),
)
def t10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from deeplake_spark.functions.vector import cosine_similarity
    from deeplake_spark.operators.indexes import bm25_via_index
    from deeplake_spark.queries.vector_ops import _query_vec_sql

    e = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec_sql(spark, sf_dir, 0)

    # top-N per side = TakeOrderedAndProject: k*accuracy_factor rows
    # reach the fusion, never the corpus. The BM25 side probes the
    # persisted inverted index (score-equivalence with direct BM25 is
    # test-pinned), so no corpus tokenize happens at query time.
    bl = (
        bm25_via_index(_inv_index(spark, sf_dir), ["spark", "vector"],
                       k=_HYBRID_N)
        .select(F.col("row_id").alias("doc_id"), "bm25")
    )
    vl = (
        e.select(
            F.col("vec_id").alias("doc_id"),
            F.round(cosine_similarity("embedding", qv), 6).alias("cos"),
        )
        .orderBy(F.desc("cos"), "doc_id")
        .limit(_HYBRID_N)
    )

    # softmax over the N-row candidate list in ONE pass: an
    # unpartitioned window is fine here because its input is already
    # LIMIT-bounded (N = k*accuracy_factor rows, corpus-independent) —
    # the agg+crossJoin alternative re-executes the corpus-side top-N
    # once per reference.
    _all = Window.partitionBy()

    def softmax_weights(lst: DataFrame, score: str, weight: str) -> DataFrame:
        ex = F.exp(F.col(score) - F.max(score).over(_all))
        return lst.select("doc_id", (ex / F.sum(ex).over(_all)).alias(weight))

    bw = softmax_weights(bl, "bm25", "wb")
    vw = softmax_weights(vl, "cos", "wc")
    return (
        bw.join(vw, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.round(
                0.5 * F.coalesce(F.col("wb"), F.lit(0.0))
                + 0.5 * F.coalesce(F.col("wc"), F.lit(0.0)),
                9,
            ).alias("fused"),
        )
        .orderBy(F.desc("fused"), "doc_id")
        .limit(_HYBRID_K)
    )


@query(
    "t11_pii_scrub",
    oracle=r"""
    WITH pii AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or 10.0.' || CAST(doc_id % 200 AS VARCHAR)
                  || '.7 call +1 555 01' || CAST(doc_id % 90 AS VARCHAR) AS t
      FROM documents WHERE doc_id < 100
    ),
    scrubbed AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
             CAST(len(regexp_extract_all(t, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS INT) AS n_ip,
             regexp_replace(
               regexp_replace(
                 regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                 '\b(?:\d{1,3}\.){3}\d{1,3}\b', '[IP]', 'g'),
               '\+\d[\d ()-]{6,14}\d', '[PHONE]', 'g') AS t
      FROM pii
    )
    SELECT doc_id, n_email, n_ip,
           CAST((len(t) - len(replace(t, '[PHONE]', ''))) / 7 AS INT) AS n_phone,
           right(t, 60) AS tail
    FROM scrubbed
    ORDER BY doc_id
    """,
    doc="PII scrubbing for training corpora: email/IPv4/phone redaction "
    "as a pure regexp_replace chain (RE2-safe patterns, applied in a "
    "fixed order) plus per-kind counts. PII is injected synthetically "
    "so the oracle exercises every pattern.",
    tags=("text", "pii", "pipeline"),
)
def t11(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.functions.text import pii_count, scrub_pii

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    t = F.concat(
        F.col("text"), F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or 10.0."), (F.col("doc_id") % 200).cast("string"),
        F.lit(".7 call +1 555 01"), (F.col("doc_id") % 90).cast("string"),
    )
    base = d.select("doc_id", t.alias("t"))
    scrubbed = base.select(
        "doc_id",
        pii_count(F.col("t"), "email").cast("int").alias("n_email"),
        pii_count(F.col("t"), "ipv4").cast("int").alias("n_ip"),
        scrub_pii(F.col("t")).alias("t"),
    )
    return scrubbed.select(
        "doc_id", "n_email", "n_ip",
        ((F.length("t") - F.length(F.replace(F.col("t"), F.lit("[PHONE]"), F.lit(""))))
         / 7).cast("int").alias("n_phone"),
        F.substring(F.col("t"), -60, 60).alias("tail"),
    ).orderBy("doc_id")


@query(
    "t12_repetition_quality",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKS.format(c='text')} AS w
      FROM documents WHERE doc_id < 200
    ),
    bg AS (
      SELECT doc_id, w,
             CASE WHEN len(w) >= 2 THEN
               list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
             ELSE [] END AS bigrams
      FROM toks
    )
    SELECT doc_id,
           ROUND(CASE WHEN len(w) = 0 THEN 0.0
                 ELSE 1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w) END, 6)
             AS dup_word_frac,
           ROUND(CASE WHEN len(bigrams) = 0 THEN 0.0
                 ELSE CAST(list_max(list_transform(list_distinct(bigrams),
                        b -> len(list_filter(bigrams, x -> x = b)))) AS DOUBLE)
                      / len(bigrams) END, 6) AS top_bigram_frac
    FROM bg
    ORDER BY doc_id
    """,
    doc="Gopher-style repetition quality signals (Rae et al. 2021 "
    "A1.1): duplicate-word fraction and top-bigram fraction as pure "
    "per-row HOF folds — zero shuffle at any corpus size (an explode + "
    "groupBy top-1 would shuffle the whole corpus).",
    tags=("text", "quality", "pipeline"),
)
def t12(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.functions.text import (
        duplicate_word_fraction,
        top_bigram_fraction,
        word_bigrams,
    )

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    # project tokens/bigrams BEFORE the O(distinct*n) fold (perf trap 3)
    toks = d.select("doc_id", tokenize("text").alias("w"))
    bg = toks.select("doc_id", "w", word_bigrams(F.col("w")).alias("bigrams"))
    return bg.select(
        "doc_id",
        F.round(duplicate_word_fraction(F.col("w")), 6).alias("dup_word_frac"),
        F.round(top_bigram_fraction(F.col("bigrams")), 6).alias("top_bigram_frac"),
    ).orderBy("doc_id")


@query(
    "t14_filter_pipeline",
    oracle=f"""
    WITH base AS (
      SELECT source, text, {_DUCK_TOKS.format(c="text")} AS w FROM documents
    ),
    feat AS (
      SELECT source, {_duck_langid("w")},
             ROUND(0.4 * least(len(w)::DOUBLE / 50.0, 1.0)
                 + 0.4 * (CASE WHEN len(w) > 0
                          THEN len(list_distinct(w))::DOUBLE / len(w)
                          ELSE 0.0 END)
                 + 0.2 * (1.0 - CASE WHEN length(text) > 0
                          THEN (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))::DOUBLE
                               / length(text)
                          ELSE 0.0 END), 6) AS q,
             ROUND(CASE WHEN len(w) = 0 THEN 0.0
                   ELSE 1.0 - len(list_distinct(w))::DOUBLE / len(w) END, 6) AS dwf
      FROM base
    ),
    pred AS (
      SELECT source, q, dwf,
             CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                  WHEN s_fr = greatest(s_de, s_en, s_es, s_fr) THEN 'fr'
                  WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                  WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                  ELSE 'de' END AS pl
      FROM feat
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN pl <> 'und' AND q >= 0.5 AND dwf <= 0.3
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN pl = 'und' THEN 1 ELSE 0 END) AS BIGINT) AS n_unknown_lang,
           CAST(SUM(CASE WHEN q < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_low_quality,
           CAST(SUM(CASE WHEN dwf > 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive
    FROM pred
    GROUP BY source
    ORDER BY source
    """,
    doc="End-to-end quality-filter pipeline accounting (C4/Gopher "
    "style): language-ID + composite quality + repetition thresholds "
    "evaluated in ONE corpus pass, per-source keep/drop counts with "
    "overlapping drop reasons. Pure Column expressions — zero shuffle "
    "beyond the final per-source aggregate.",
    tags=("text", "quality", "pipeline"),
)
def t14(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.functions.text import duplicate_word_fraction
    from deeplake_spark.io import ensure_parallelism

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    # project tokens once (perf trap 3: inlined tokenize re-evaluates
    # inside every HOF fold downstream)
    toks = d.select("source", "text", tokenize("text").alias("w"))
    scored = toks.select(
        "source",
        predict_lang("w").alias("pl"),
        quality_score("text").alias("q"),
        F.round(duplicate_word_fraction(F.col("w")), 6).alias("dwf"),
    )
    keep = (F.col("pl") != "und") & (F.col("q") >= 0.5) & (F.col("dwf") <= 0.3)
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(keep.cast("long")).alias("n_kept"),
            F.sum((F.col("pl") == "und").cast("long")).alias("n_unknown_lang"),
            F.sum((F.col("q") < 0.5).cast("long")).alias("n_low_quality"),
            F.sum((F.col("dwf") > 0.3).cast("long")).alias("n_repetitive"),
        )
        .orderBy("source")
    )


@query(
    "t15_vocab_topk",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             unnest({_DUCK_TOKS.format(c="text")}) AS token
      FROM documents
    )
    SELECT token,
           CAST(COUNT(*) AS BIGINT) AS tf,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
    FROM tok
    GROUP BY token
    ORDER BY df DESC, tf DESC, token
    LIMIT 50
    """,
    doc="Corpus vocabulary statistics: top-50 tokens by document "
    "frequency (tf + df) — the vocabulary/frequency-table pass of a "
    "tokenizer-training pipeline. One tokenize projection, one "
    "explode, one map-side-partial groupBy; top-k is "
    "TakeOrderedAndProject (no global sort).",
    tags=("text", "vocab", "pipeline"),
)
def t15(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.io import ensure_parallelism

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    # project tokens first (perf trap 3), explode_outer + output-side
    # null filter (perf trap 2: plain explode lets Catalyst push the
    # inlined generator input below the repartition)
    toks = d.select("doc_id", tokenize("text").alias("w"))
    tok = (
        toks.select("doc_id", F.explode_outer("w").alias("token"))
        .filter(F.col("token").isNotNull())
    )
    return (
        tok.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
        .orderBy(F.desc("df"), F.desc("tf"), "token")
        .limit(50)
    )


@query(
    "t16_mixture_sample",
    oracle="""
    WITH u AS (
      SELECT source, n_chars,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#mixture'), 1, 8))
                  AS UBIGINT) / 4294967296.0 AS unif
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM u
    WHERE unif < (CASE source
                  WHEN 'src0' THEN 1.0
                  WHEN 'src1' THEN 0.6
                  WHEN 'src2' THEN 0.25
                  ELSE 0.1 END)
    GROUP BY source
    ORDER BY source
    """,
    doc="Deterministic domain-mixture downsampling (Pile/DoReMi-style "
    "static domain weights): per-domain keep fractions over the "
    "engine-portable md5 uniform — reproducible, append-stable, pure "
    "per-row filter (no shuffle, no RNG). operators/sampling.py "
    "mixture_sample.",
    tags=("sampling", "mixture", "pipeline"),
)
def t16(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.operators.sampling import mixture_sample

    d = load_table(spark, sf_dir, "documents")
    kept = mixture_sample(
        d, domain_col="source",
        rates={"src0": 1.0, "src1": 0.6, "src2": 0.25},
        id_col="doc_id", default_rate=0.1,
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("source")
    )


@query(
    "t17_length_quantiles",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(quantile_cont(n_chars, 0.5), 6) AS p50,
           ROUND(quantile_cont(n_chars, 0.9), 6) AS p90,
           ROUND(quantile_cont(n_chars, 0.99), 6) AS p99
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
    doc="Exact length-distribution quantiles per language (linear "
    "interpolation — Spark percentile == DuckDB quantile_cont): the "
    "sequence-length profiling pass that sizes packing budgets. "
    "Map-side partial aggregation; percentile state is per (lang) "
    "group only.",
    tags=("text", "stats", "pipeline"),
)
def t17(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.percentile("n_chars", F.lit(0.5)), 6).alias("p50"),
            F.round(F.percentile("n_chars", F.lit(0.9)), 6).alias("p90"),
            F.round(F.percentile("n_chars", F.lit(0.99)), 6).alias("p99"),
        )
        .orderBy("lang")
    )


@query(
    "t18_rollup_stats",
    oracle="""
    SELECT COALESCE(lang, 'ALL') AS lang,
           COALESCE(source, 'ALL') AS source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    GROUP BY ROLLUP(lang, source)
    ORDER BY lang, source
    """,
    doc="Hierarchical corpus accounting via ROLLUP(lang, source) — "
    "grouping-sets are a Catalyst built-in (Expand + single hash "
    "aggregate with map-side partials), the one-pass replacement for "
    "N separate GROUP BYs at 100 TB.",
    tags=("text", "stats"),
)
def t18(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.rollup("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .select(
            F.coalesce(F.col("lang"), F.lit("ALL")).alias("lang"),
            F.coalesce(F.col("source"), F.lit("ALL")).alias("source"),
            "n_docs",
            "sum_chars",
        )
        .orderBy("lang", "source")
    )


@query(
    "t19_temperature_mixture",
    oracle="""
    WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    w AS (SELECT lang, n, pow(CAST(n AS DOUBLE), -0.5) AS w FROM c),
    r AS (SELECT lang, n, ROUND(w / (SELECT MAX(w) FROM w), 6) AS rate FROM w),
    k AS (
      SELECT d.lang, COUNT(*) AS n_kept, SUM(d.n_chars) AS sum_chars
      FROM documents d JOIN r ON r.lang = d.lang
      WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)
                                     || '#temp-mixture'), 1, 8)) AS UBIGINT)
            / 4294967296.0 < r.rate
      GROUP BY d.lang
    )
    SELECT r.lang, CAST(r.n AS BIGINT) AS n_total, r.rate AS keep_rate,
           CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(COALESCE(k.sum_chars, 0) AS BIGINT) AS sum_chars
    FROM r LEFT JOIN k USING (lang)
    ORDER BY lang
    """,
    doc="Temperature-scaled domain mixture (XLM-R/mT5 multinomial "
    "smoothing, kept_d ∝ n_d^alpha at alpha=0.5): keep rates DERIVED "
    "from observed per-language counts — the dominant language is "
    "downsampled toward the small ones. Rates are a tiny partial-agg "
    "relation broadcast back; the keep decision is the md5-uniform "
    "per-row filter (no corpus shuffle, no RNG); rates round to 6 "
    "decimals so pow() last-ulp engine differences cannot flip a row. "
    "operators/sampling.py temperature_mixture.",
    tags=("sampling", "mixture", "pipeline"),
)
def t19(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.operators.sampling import temperature_mixture

    d = load_table(spark, sf_dir, "documents")
    kept, rates = temperature_mixture(d, domain_col="lang", alpha=0.5,
                                      id_col="doc_id")
    kc = kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").alias("sum_chars"),
    )
    return (
        rates.join(F.broadcast(kc), "lang", "left")
        .select(
            "lang",
            F.col("n_docs").alias("n_total"),
            "keep_rate",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce(F.col("sum_chars"), F.lit(0)).cast("long").alias("sum_chars"),
        )
        .orderBy("lang")
    )


@query(
    "t20_fixed_len_chunks",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKS.format(c="text")} AS t
      FROM documents WHERE doc_id < 300
    ),
    nz AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
    ch AS (
      SELECT doc_id, CAST(ix.i AS INT) AS chunk_idx,
             CAST(least(32, n - ix.i * 32) AS INT) AS n_tokens,
             array_to_string(
               list_slice(t, ix.i * 32 + 1, least(ix.i * 32 + 32, n)),
               ' ') AS chunk_text
      FROM nz, LATERAL (
        SELECT unnest(range(0, CAST(ceil(n / 32.0) AS BIGINT))) AS i) ix
    )
    SELECT doc_id, chunk_idx, n_tokens, chunk_text
    FROM ch ORDER BY doc_id, chunk_idx
    """,
    doc="Fixed-length context chunking (32-token training examples per "
    "document, partial tail kept) — the per-document chunking pass of "
    "an LM data pipeline. Guarded explode_outer index generation + "
    "try_element_at/concat_ws assembly over a PROJECTED token column "
    "(perf traps #2/#3/#6). operators/restructure.py "
    "chunk_fixed_tokens.",
    tags=("text", "restructure", "pipeline"),
)
def t20(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.operators.restructure import chunk_fixed_tokens

    d = (load_table(spark, sf_dir, "documents")
         .filter(F.col("doc_id") < 300).select("doc_id", "text"))
    return chunk_fixed_tokens(d, chunk=32).orderBy("doc_id", "chunk_idx")


@query(
    "t21_blocklist_ratio",
    oracle=f"""
    WITH t AS (
      SELECT source, {_DUCK_TOKS.format(c="text")} AS toks FROM documents
    ),
    h AS (
      SELECT source, len(toks) AS n,
             len(list_filter(toks, x -> x IN ('spark', 'gpu', 'fast'))) AS hits
      FROM t
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n > 0
                         AND hits / CAST(n AS DOUBLE) > 0.05
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           CAST(SUM(hits) AS BIGINT) AS sum_hits
    FROM h GROUP BY source ORDER BY source
    """,
    doc="Blocklist-term density filter (the wordlist-based content "
    "filter of web-corpus pipelines): per-doc occurrence count over a "
    "broadcast term list (functions/text.py stopword_hits — a pure "
    "JVM HOF, no UDF), flag docs above a 5% token-ratio threshold, "
    "account per source. Scan → one map-side-partial aggregate.",
    tags=("text", "quality", "pipeline"),
)
def t21(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.functions.text import stopword_hits

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("source", tokenize("text").alias("__toks"))
    h = toks.select(
        "source",
        F.size(F.col("__toks")).alias("__n"),
        stopword_hits("__toks", ["spark", "gpu", "fast"]).alias("__hits"),
    )
    ratio = F.col("__hits").cast("double") / F.nullif(
        F.col("__n").cast("double"), F.lit(0.0))
    return (
        h.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(((F.col("__n") > 0) & (ratio > 0.05)).cast("long"))
             .alias("n_flagged"),
            F.sum("__hits").cast("long").alias("sum_hits"),
        )
        .orderBy("source")
    )


@query(
    "t22_curriculum_bins",
    oracle="""
    WITH th AS (
      SELECT ROUND(quantile_cont(n_chars, 0.25), 6) AS q1,
             ROUND(quantile_cont(n_chars, 0.50), 6) AS q2,
             ROUND(quantile_cont(n_chars, 0.75), 6) AS q3
      FROM documents
    )
    SELECT lang,
           CASE WHEN n_chars <= q1 THEN 'q1_short'
                WHEN n_chars <= q2 THEN 'q2_mid'
                WHEN n_chars <= q3 THEN 'q3_long'
                ELSE 'q4_xlong' END AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(n_chars), 6) AS avg_chars
    FROM documents, th
    GROUP BY lang, bin ORDER BY lang, bin
    """,
    doc="Curriculum binning by length quartile: exact interpolated "
    "quartile thresholds (Spark percentile == DuckDB quantile_cont, "
    "the t17 parity; rounded to 6 so the bin boundary is engine-"
    "portable) computed as a 1-row broadcast aggregate, then a pure "
    "per-row CASE bucket — no sort, no window, two corpus passes. "
    "At 100 TB swap the exact percentile for approx_percentile; the "
    "bucketing pass is unchanged.",
    tags=("text", "sampling", "pipeline"),
)
def t22(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    th = d.agg(
        F.round(F.expr("percentile(n_chars, 0.25D)"), 6).alias("__q1"),
        F.round(F.expr("percentile(n_chars, 0.50D)"), 6).alias("__q2"),
        F.round(F.expr("percentile(n_chars, 0.75D)"), 6).alias("__q3"),
    )
    binned = d.crossJoin(F.broadcast(th)).select(
        "lang", "n_chars",
        F.when(F.col("n_chars") <= F.col("__q1"), "q1_short")
         .when(F.col("n_chars") <= F.col("__q2"), "q2_mid")
         .when(F.col("n_chars") <= F.col("__q3"), "q3_long")
         .otherwise("q4_xlong").alias("bin"),
    )
    return (
        binned.groupBy("lang", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        )
        .orderBy("lang", "bin")
    )


@query(
    "t23_source_overlap",
    oracle="""
    WITH corpus AS (
      SELECT source, doc_id, md5(lower(text)) AS h FROM documents
      UNION ALL
      SELECT 'mirror' AS source, doc_id + 1000000, md5(lower(text))
      FROM documents WHERE doc_id % 7 = 0
    ),
    per AS (SELECT DISTINCT source, h FROM corpus),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
      FROM per a JOIN per b ON a.h = b.h AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT src_a, src_b, CAST(n_shared AS BIGINT) AS n_shared
    FROM pairs WHERE n_shared > 0
    ORDER BY n_shared DESC, src_a, src_b
    """,
    doc="Cross-source duplicate-overlap matrix (which crawls/sources "
    "mirror each other — the provenance diagnostic run before choosing "
    "dedup scope): exact content digests, per-source distinct sets, "
    "digest-keyed self-join so pair work tracks true collisions (never "
    "|A|x|B|), counts per source pair. A planted 'mirror' source "
    "(every 7th doc) keeps the check signal-bearing regardless of "
    "natural overlap in regenerated testdata.",
    tags=("dedup", "provenance", "pipeline"),
)
def t23(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    corpus = d.select("source", "doc_id", F.md5(F.lower("text")).alias("__h"))
    planted = (d.filter(F.col("doc_id") % 7 == 0)
               .select(F.lit("mirror").alias("source"),
                       (F.col("doc_id") + 1_000_000).alias("doc_id"),
                       F.md5(F.lower("text")).alias("__h")))
    per = corpus.unionByName(planted).select("source", "__h").distinct()
    a = per.select(F.col("source").alias("src_a"), "__h")
    b = per.select(F.col("source").alias("src_b"), "__h")
    return (
        a.join(b, "__h")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .orderBy(F.desc("n_shared"), "src_a", "src_b")
    )


@query(
    "t24_unigram_surprisal",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DUCK_TOKS.format(c="text")}) AS tok
      FROM documents
    ),
    freq AS (SELECT tok, COUNT(*) AS tf FROM toks GROUP BY tok),
    tot AS (SELECT SUM(tf) AS n FROM freq),
    scored AS (
      SELECT t.doc_id, -ln(f.tf / CAST(tot.n AS DOUBLE)) AS surprisal
      FROM toks t JOIN freq f ON f.tok = t.tok, tot
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(AVG(surprisal), 6) AS avg_surprisal
    FROM scored
    WHERE doc_id < 200
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    doc="Unigram-LM surprisal scoring — the self-trained stand-in for "
    "CCNet/Gopher perplexity filtering (docs whose tokens are "
    "improbable under the corpus LM are flagged as noise; docs of "
    "only ultra-common tokens as boilerplate): ONE tokenize+explode "
    "pass feeds both the term-frequency model and the scoring join "
    "(term-keyed — the model join reuses the frequency aggregation's "
    "own partitioning, no second corpus shuffle), then a per-doc "
    "average of -ln p(tok). At 100 TB the freq model is the t15 "
    "vocabulary side table, built once per corpus snapshot.",
    tags=("text", "quality", "pipeline"),
)
def t24(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.io import ensure_parallelism

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    toks = (
        d.select("doc_id", tokenize("text").alias("__toks"))
        .select("doc_id", F.explode_outer("__toks").alias("tok"))
        .filter(F.col("tok").isNotNull())
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("__tf"))
    total = freq.agg(F.sum("__tf").cast("double").alias("__n"))
    scored = (
        toks.join(freq, "tok")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            (-F.log(F.col("__tf") / F.col("__n"))).alias("__s"),
        )
    )
    return (
        scored.filter(F.col("doc_id") < 200)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg("__s"), 6).alias("avg_surprisal"),
        )
        .orderBy("doc_id")
    )


#: messy-URL synthesis shared by the Spark query and the oracle: scheme
#: case, host case, trailing slash, tracking params, and fragments all
#: vary with doc_id so canonicalization does real work. Written once as
#: a SQL fragment both engines parse identically.
_URL_SYNTH = (
    "concat(CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTP://' END, "
    "CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END, "
    "'.Example.COM/Docs/', CAST(doc_id % 40 AS VARCHAR), "
    "CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END, "
    "CASE WHEN doc_id % 5 = 0 THEN '?utm_source=feed&utm_campaign=x' "
    "     WHEN doc_id % 5 = 1 THEN '?id=7&utm_medium=y&fbclid=abc' "
    "     WHEN doc_id % 5 = 2 THEN '?id=7' ELSE '' END, "
    "CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END)"
)


@query(
    "t25_url_dedup",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id, {_URL_SYNTH} AS url
      FROM documents
    ),
    c1 AS (SELECT doc_id, regexp_replace(url, '#.*', '') AS u FROM raw),
    c2 AS (SELECT doc_id,
                  regexp_replace(u, '^[hH][tT][tT][pP][sS]?://', '') AS u
           FROM c1),
    c3 AS (SELECT doc_id,
                  lower(regexp_extract(u, '^[^/?]*'))
                  || substring(u, length(regexp_extract(u, '^[^/?]*')) + 1)
                    AS u
           FROM c2),
    c4 AS (SELECT doc_id,
                  regexp_replace(u, '(utm_[a-zA-Z]+|fbclid|gclid)=[^&#]*',
                                 '', 'g') AS u
           FROM c3),
    c5 AS (SELECT doc_id,
                  regexp_replace(regexp_replace(regexp_replace(u,
                      '\\?&+', '?', 'g'), '&&+', '&', 'g'),
                      '[?&]+$', '') AS u
           FROM c4),
    canon AS (SELECT doc_id, regexp_replace(u, '/+$', '') AS url FROM c5)
    SELECT url, CAST(COUNT(*) AS BIGINT) AS n
    FROM canon GROUP BY url HAVING COUNT(*) > 1 ORDER BY url
    """,
    doc="URL canonicalization + dedup — the URL-level dedup every crawl "
    "pipeline runs before content dedup (scheme/host-case unification, "
    "fragment and tracking-param stripping, trailing-slash removal; "
    "host lowercased, path case preserved per RFC 3986). URLs are "
    "synthesized in-query with doc_id-varied mess (the d04 "
    "planted-signal pattern), so the duplicate groups are exactly "
    "checkable. Pure JVM regex expressions, RE2-compatible so the "
    "DuckDB oracle mirrors them verbatim; at 100 TB this is one "
    "scan + one groupBy on the canonical key.",
    tags=("text", "dedup", "url"),
)
def t25(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.functions.text import canonical_url
    from deeplake_spark.io import ensure_parallelism

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    spark_synth = _URL_SYNTH.replace("AS VARCHAR", "AS STRING")
    canon = d.select(canonical_url(F.expr(spark_synth)).alias("url"))
    return (canon.groupBy("url")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1)
            .orderBy("url"))


@query(
    "t26_hashed_linear_score",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split(regexp_replace(lower(text),
                    '\\s+', ' ', 'g'), ' '), t -> t != '')) AS tok
      FROM documents
    ),
    w AS (
      SELECT doc_id,
             (((CAST(('0x' || substr(md5(tok || '#0'), 1, 15)) AS UBIGINT)
                % 1024) * 2654435761) % 100003) / 100003.0 - 0.5 AS wt
      FROM toks
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(AVG(wt), 6) AS score,
           AVG(wt) > 0 AS keep
    FROM w GROUP BY doc_id ORDER BY doc_id
    """,
    doc="fasttext-style quality-classifier INFERENCE as pure JVM "
    "expressions: hashing-trick featurization (portable md5-int60 "
    "token hash % 1024 buckets) with weights that are a closed-form "
    "function of the bucket id — so scoring a 100 TB corpus is one "
    "scan with zero UDFs, zero weight-table joins, zero shuffles "
    "before the per-doc aggregate. The same deterministic weights make "
    "the score exactly oracle-checkable (the d09/d10 portable-hash "
    "convention); a real trained model swaps the closed-form weight "
    "for a broadcast 1024-float array with the identical plan shape. "
    "keep compares the UNROUNDED score (repo rounding convention).",
    tags=("text", "quality", "scoring"),
)
def t26(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.io import ensure_parallelism
    from deeplake_spark.operators.dedup import _md5_int60

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    toks = (
        d.select("doc_id", tokenize("text").alias("__toks"))
        .select("doc_id", F.explode_outer("__toks").alias("tok"))
        .filter(F.col("tok").isNotNull())
    )
    bucket = _md5_int60(F.col("tok"), 0) % 1024
    wt = ((bucket * 2654435761) % 100003) / F.lit(100003.0) - 0.5
    return (
        toks.select("doc_id", wt.alias("__wt"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg("__wt"), 6).alias("score"),
            (F.avg("__wt") > 0).alias("keep"),
        )
        .orderBy("doc_id")
    )


@query(
    "t27_bigram_surprisal",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKS.format(c="text")} AS t FROM documents
    ),
    pairs AS (
      SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
      FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i) s
      WHERE len(t) >= 2
    ),
    big AS (SELECT w1, w2, COUNT(*) AS c2 FROM pairs GROUP BY w1, w2),
    uni AS (SELECT w1, COUNT(*) AS c1 FROM pairs GROUP BY w1)
    SELECT p.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(-ln(b.c2 / CAST(u.c1 AS DOUBLE))), 6) AS avg_surprisal
    FROM pairs p
    JOIN big b ON b.w1 = p.w1 AND b.w2 = p.w2
    JOIN uni u ON u.w1 = p.w1
    WHERE p.doc_id < 200
    GROUP BY p.doc_id ORDER BY p.doc_id
    """,
    doc="Bigram-LM conditional surprisal — the n-gram perplexity filter "
    "(KenLM-style quality gating) one order up from t24's unigram LM: "
    "P(w2|w1) = corpus bigram count / corpus first-word count (MLE), "
    "per-doc mean of -ln P over adjacent pairs. One tokenize pass "
    "feeds BOTH the model counts and the scoring join (no second "
    "corpus scan); the count relations shuffle on the bigram/unigram "
    "keys and broadcast-join back. Exactly oracle-checked — DuckDB "
    "builds the same MLE model from the same tokens.",
    tags=("text", "quality", "lm"),
)
def t27(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.io import ensure_parallelism

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    toks = d.select("doc_id", tokenize("text").alias("__t"))
    # no size>=2 filter: it would push `size(tokenize(text))>=2` (with
    # tokenize inlined) into the scan (CLAUDE.md traps 2/3); a <2-token
    # doc zips to an empty array and explode_outer's null-filter drops it
    pairs = (
        toks.select(
            "doc_id",
            F.explode_outer(
                F.zip_with(
                    # greatest(...,0): slice length -1 throws on zero-token
                    # docs (ANSI INVALID_PARAMETER_VALUE.LENGTH) — same
                    # guard as functions/text.py word_bigrams
                    F.slice(F.col("__t"), 1,
                            F.greatest(F.size("__t") - 1, F.lit(0))),
                    F.slice(F.col("__t"), 2,
                            F.greatest(F.size("__t") - 1, F.lit(0))),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("__p"),
        )
        .filter(F.col("__p").isNotNull())
        .select("doc_id", F.col("__p.w1").alias("w1"),
                F.col("__p.w2").alias("w2"))
    )
    from deeplake_spark.operators.dedup import _track

    # c1 = Σ_w2 c2 — the unigram marginal re-aggregates the bigram
    # counts (the t41 convention): integer-exact, same oracle. The
    # count relation is `_track`-persisted (r16): AQE never reused the
    # duplicate `big` exchanges (divergent inferred join null-filters;
    # see t41), so the model side re-tokenized the corpus per consumer
    # — with the persist the executed plan holds 2 corpus scans (model
    # fill + scoring side) instead of 3.
    big = _track(
        pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("__c2")))
    uni = big.groupBy("w1").agg(F.sum("__c2").alias("__c1"))
    scored = (
        pairs.filter(F.col("doc_id") < 200)
        .join(big, ["w1", "w2"])
        .join(uni, "w1")
        .select("doc_id",
                (-F.log(F.col("__c2") / F.col("__c1"))).alias("__s"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_bigrams"),
             F.round(F.avg("__s"), 6).alias("avg_surprisal"))
        .orderBy("doc_id")
    )


@query(
    "t28_tfidf_keywords",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DUCK_TOKS.format(c="text")}) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
           GROUP BY doc_id, term),
    dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
    dfr AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM dl),
    s AS (
      SELECT tf.doc_id, tf.term,
             (tf.tf / CAST(dl.dl AS DOUBLE))
             * ln(n.n_docs / CAST(dfr.df AS DOUBLE)) AS s
      FROM tf JOIN dl USING (doc_id) JOIN dfr USING (term) CROSS JOIN n
    ),
    r AS (
      SELECT doc_id, term, s,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY s DESC, term) AS rank
      FROM s
    )
    SELECT doc_id, CAST(rank AS INT) AS rank, term,
           ROUND(s, 6) AS tfidf
    FROM r WHERE rank <= 3 ORDER BY doc_id, rank
    """,
    doc="Per-document TF-IDF keyword extraction — the topic/keyword "
    "tagging step of a curation pipeline (and the classic relevance "
    "weight): tfidf = (tf/doclen) * ln(n_docs/df), top 3 terms per doc "
    "with a deterministic term tiebreak. ONE tokenize pass feeds tf, "
    "doclen, df AND the corpus size (dl is re-aggregated from tf, "
    "never a second scan); the rank window is PARTITIONED by doc_id — "
    "corpus-parallel, no global sort. Exactly oracle-checked: DuckDB "
    "builds the same model from the same tokens.",
    tags=("text", "keywords", "tfidf"),
)
def t28(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from deeplake_spark.io import ensure_parallelism

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    toks = (
        d.select("doc_id", tokenize("text").alias("__t"))
        .select("doc_id", F.explode_outer("__t").alias("term"))
        .filter(F.col("term").isNotNull())
    )
    # NO persist on tf (r15 A/B): a tracked persist here measured
    # 2.0-3.6 s vs 1.2-1.8 s recomputed (interleaved min-of-4) — the
    # deserialized cache fill breaks whole-stage pipelining and AQE
    # stage reuse already serves part of the duplicate subtree, while
    # the (doc, term) aggregate is cheap to recompute. At 100 TB the
    # TF relation would be a persisted parquet side table (the
    # inverted-index protocol), not an in-plan memory cache.
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("__tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("__tf").alias("__dl"))
    dfr = tf.groupBy("term").agg(F.count(F.lit(1)).alias("__df"))
    n = dl.agg(F.count(F.lit(1)).alias("__n"))
    s = (
        tf.join(dl, "doc_id")
        .join(dfr, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id", "term",
            ((F.col("__tf") / F.col("__dl").cast("double"))
             * F.log(F.col("__n") / F.col("__df").cast("double"))).alias("__s"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("__s"), "term")
    return (
        s.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "rank", "term", F.round("__s", 6).alias("tfidf"))
        .orderBy("doc_id", "rank")
    )


@query(
    "t29_repetition_metrics",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKS.format(c="text")} AS t FROM documents
    ),
    ts AS (
      SELECT doc_id, len(t) AS n_tokens, len(list_distinct(t)) AS nd
      FROM toks
    ),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)),
                                   i -> t[i] || ' ' || t[i + 1])) AS bg
      FROM toks WHERE len(t) >= 2
    ),
    bgc AS (SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY doc_id, bg),
    bgs AS (SELECT doc_id, MAX(c) AS mx, SUM(c) AS nb FROM bgc
            GROUP BY doc_id)
    SELECT ts.doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           ROUND(nd / CAST(nullif(n_tokens, 0) AS DOUBLE), 6)
             AS distinct_ratio,
           ROUND(mx / CAST(nb AS DOUBLE), 6) AS top_bigram_frac,
           (COALESCE(nd / CAST(nullif(n_tokens, 0) AS DOUBLE) > 0.3, FALSE)
            AND COALESCE(mx / CAST(nb AS DOUBLE) < 0.18, TRUE)) AS keep
    FROM ts LEFT JOIN bgs ON bgs.doc_id = ts.doc_id
    ORDER BY ts.doc_id
    """,
    doc="Gopher-style repetition filtering (Rae et al. 2021 quality "
    "rules): per-doc distinct-token ratio and most-frequent-bigram "
    "fraction, with the keep decision on the UNROUNDED values "
    "(rounded-filter trap) and rounded projections. Zero-token and "
    "one-token documents survive: explode_outer keeps them in the "
    "token stats (n_tokens 0/1), the bigram side left-joins, and the "
    "null ratios resolve via COALESCE exactly as the oracle does. One "
    "tokenize pass projected to a column feeds both the token and the "
    "bigram aggregates.",
    tags=("text", "quality", "dedup"),
)
def t29(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-row array spelling (r15 opt): the former two exploded lanes
    # (token stats + bigram counts) tokenized the corpus TWICE and paid
    # four shuffles for per-DOC statistics that never needed one — the
    # top_bigram_fraction argument. n_tokens/distinct are plain array
    # sizes; the top-bigram count is a longest-equal-run fold over the
    # SORTED bigram array (O(n log n) native sort + O(n) interpreted
    # fold per row — NOT the O(distinct*n) filter-per-distinct fold),
    # all over PROJECTED columns (trap 3). Zero shuffles before the
    # output sort at any corpus size; values integer-exact, so the
    # oracle is unchanged. Plan pinned in tests/test_plans.py.
    from deeplake_spark.functions.text import word_bigrams
    from deeplake_spark.io import ensure_parallelism

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    base = (d.select("doc_id", tokenize("text").alias("__t"))
            .select("doc_id", "__t",
                    word_bigrams(F.col("__t")).alias("__bg")))
    # max bigram multiplicity = longest run of equal values in the
    # sorted array; one parsed expression (trap 12)
    mx_expr = F.expr(
        "aggregate(array_sort(__bg), "
        "named_struct('p', cast(null as string), 'r', 0L, 'm', 0L), "
        "(acc, x) -> named_struct("
        "  'p', x, "
        "  'r', IF(acc.p <=> x, acc.r + 1L, 1L), "
        "  'm', greatest(acc.m, IF(acc.p <=> x, acc.r + 1L, 1L))), "
        "acc -> acc.m)")
    stats = base.select(
        "doc_id",
        F.size("__t").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("__t")).cast("long").alias("__nd"),
        # the oracle's bgs CTE exists only for len(t) >= 2 — NULL
        # mx/nb below replays its left-join miss
        F.when(F.size("__t") >= 2, mx_expr).alias("__mx"),
        F.when(F.size("__t") >= 2, F.size("__bg").cast("long"))
        .alias("__nb"),
    )
    dr = F.col("__nd") / F.nullif(F.col("n_tokens"), F.lit(0)).cast("double")
    tbf = F.col("__mx") / F.col("__nb").cast("double")
    return (
        stats.select(
            "doc_id", "n_tokens",
            F.round(dr, 6).alias("distinct_ratio"),
            F.round(tbf, 6).alias("top_bigram_frac"),
            (F.coalesce(dr > 0.3, F.lit(False))
             & F.coalesce(tbf < 0.18, F.lit(True))).alias("keep"),
        )
        .orderBy("doc_id")
    )


@query(
    "t30_dsir_selection",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, {_DUCK_TOKS.format(c="text")} AS t FROM documents
    ),
    bg AS (
      SELECT doc_id, source,
             (CAST(('0x' || substr(md5(t[i] || ' ' || t[i + 1] || '#0'),
                    1, 15)) AS UBIGINT) % 1024) AS b
      FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i) s
      WHERE len(t) >= 2
    ),
    tgtc AS (SELECT b, COUNT(*) AS ct FROM bg
             WHERE source IN ('src0', 'src1') GROUP BY b),
    rawc AS (SELECT b, COUNT(*) AS cr FROM bg GROUP BY b),
    tot AS (SELECT (SELECT SUM(ct) FROM tgtc) AS tt,
                   (SELECT SUM(cr) FROM rawc) AS tr),
    ratio AS (
      SELECT r.b,
             ln((COALESCE(t.ct, 0) + 0.5) / (tot.tt + 512.0))
             - ln((r.cr + 0.5) / (tot.tr + 512.0)) AS lr
      FROM rawc r LEFT JOIN tgtc t ON r.b = t.b CROSS JOIN tot
    ),
    w AS (
      SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             SUM(CAST(lr AS DECIMAL(38,6))) AS lw
      FROM bg JOIN ratio ON bg.b = ratio.b GROUP BY bg.doc_id
    ),
    keyed AS (
      SELECT doc_id, n_bigrams, CAST(lw AS DOUBLE) AS logw,
             CAST(lw AS DOUBLE) + (-ln(-ln(
               (CAST(('0x' || substr(md5(doc_id || '#dsir'), 1, 8))
                     AS UBIGINT) + 0.5) / 4294967296.0))) AS gk
      FROM w
    )
    SELECT doc_id, n_bigrams, ROUND(logw, 6) AS logw,
           ROUND(gk, 6) AS gkey
    FROM keyed ORDER BY gkey DESC, doc_id LIMIT 50
    """,
    doc="DSIR data selection (Xie et al. 2023): hashed bag-of-bigrams "
    "importance weights ln(p_target/p_raw) over 1024 md5-portable "
    "buckets (target domain: source src0/src1), Gumbel-top-k resample "
    "(sampling w/o replacement proportional to importance, from the "
    "same md5-uniform primitive as assign_splits — no RNG). Two corpus "
    "passes + <=1024-row broadcast ratio/totals; selection is one "
    "TakeOrderedAndProject. Per-bigram log-ratios sum as "
    "DECIMAL(38,6) (order-independent); ORDER BY uses the ROUNDED "
    "key + doc_id tiebreak so the selected set is engine-exact.",
    tags=("text", "sampling", "selection"),
)
def t30(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.operators.sampling import dsir_select

    d = load_table(spark, sf_dir, "documents")
    # predicate target (r15 opt): the target domain is a subset of the
    # raw corpus, so the fit derives both distributions from ONE
    # tokenize pass (dsir_select's Column lane; frame==predicate
    # equality pinned in tests/test_operators.py)
    return dsir_select(d, F.col("source").isin("src0", "src1"),
                       k=50, n_buckets=1024, seed=0, salt="dsir")


@query(
    "t31_kmv_distinct_sketch",
    oracle=f"""
    WITH toks AS (
      SELECT source,
             unnest({_DUCK_TOKS.format(c="text")}) AS tok
      FROM documents
    ),
    hashes AS (
      SELECT DISTINCT source,
             CAST(('0x' || substr(md5(tok || '#0'), 1, 15)) AS UBIGINT)
               / 1152921504606846976.0 AS u
      FROM toks
    ),
    ranked AS (
      SELECT source, u,
             row_number() OVER (PARTITION BY source ORDER BY u) AS r
      FROM hashes
    ),
    sk AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_seen, MAX(u) AS uk
      FROM ranked WHERE r <= 64 GROUP BY source
    ),
    exact AS (
      SELECT source, CAST(COUNT(DISTINCT tok) AS BIGINT) AS exact_distinct
      FROM toks GROUP BY source
    )
    SELECT sk.source,
           ROUND(CASE WHEN sk.n_seen < 64 THEN CAST(sk.n_seen AS DOUBLE)
                      ELSE 63.0 / sk.uk END, 6) AS est_distinct,
           exact.exact_distinct
    FROM sk JOIN exact ON sk.source = exact.source
    ORDER BY sk.source
    """,
    doc="KMV distinct-cardinality sketch (Bar-Yossef et al. 2002): "
    "per-source distinct-token estimate from the 64 smallest "
    "md5-portable token hashes — (k-1)/u_k, exact while the sketch is "
    "not full — next to the true COUNT(DISTINCT) so the estimate "
    "quality is visible in the output. Deterministic (no HLL "
    "engine-private hashing), mergeable (operators.sketches.kmv_merge "
    "— array expression over <=k doubles), hash-exactly "
    "oracle-checkable. Build = one (group, distinct-hash) shuffle + "
    "partitioned WindowGroupLimit; at 100 TB the persisted sketches "
    "answer cardinality/overlap questions without re-shuffling "
    "distinct values.",
    tags=("text", "sketch", "stats"),
)
def t31(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.io import ensure_parallelism
    from deeplake_spark.operators.sketches import kmv_estimate, kmv_sketch

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    toks = (
        d.select("source", tokenize("text").alias("__t"))
        .select("source", F.explode_outer("__t").alias("tok"))
        .filter(F.col("tok").isNotNull())
    )
    # ONE corpus pass (r15 opt): distinct (source, token) once; the
    # sketch hashes the distinct rows (distinct-of-distinct is a
    # no-op on the hash side) and the exact lane is a plain count of
    # the same relation — the former spelling ran the tokenize+explode
    # corpus pass once per consumer (guide §2.4). count_distinct ==
    # count over the distinct relation, value-identical.
    dt = toks.distinct()
    sk = kmv_sketch(dt, "tok", by=["source"], k=64)
    exact = dt.groupBy("source").agg(
        F.count(F.lit(1)).alias("exact_distinct"))
    return (
        sk.join(exact, "source")
        .select(
            "source",
            F.round(kmv_estimate("sketch", k=64), 6)
            .alias("est_distinct"),
            "exact_distinct",
        )
        .orderBy("source")
    )


@query(
    "t32_kmv_source_overlap",
    oracle=f"""
    WITH raw_toks AS (
      SELECT doc_id, source, unnest({_DUCK_TOKS.format(c="text")}) AS tok0
      FROM documents WHERE source IN ('src0', 'src1', 'src2', 'src3')
    ),
    toks AS (
      -- planted divergence: alternate docs WITHIN each source suffix
      -- their tokens (source = doc_id % 20 in the testdata, so a raw
      -- doc_id parity would be constant per source),
      -- so the synthetic shared vocabulary splits into a shared half
      -- and a per-source half (otherwise every pair is Jaccard 1.0
      -- and the overlap estimate carries no signal)
      SELECT source,
             CASE WHEN (doc_id // 20) % 2 = 0 THEN tok0 || '_' || source
                  ELSE tok0 END AS tok
      FROM raw_toks
    ),
    hashes AS (
      SELECT DISTINCT source,
             CAST(('0x' || substr(md5(tok || '#0'), 1, 15)) AS UBIGINT)
               / 1152921504606846976.0 AS u
      FROM toks
    ),
    sk AS (
      SELECT source, list_sort(list(u)) AS sketch FROM (
        SELECT source, u, row_number() OVER (
          PARTITION BY source ORDER BY u) AS r
        FROM hashes) WHERE r <= 64 GROUP BY source
    ),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b,
             list_slice(list_sort(list_distinct(
               list_concat(a.sketch, b.sketch))), 1, 64) AS m,
             a.sketch AS sa, b.sketch AS sb
      FROM sk a JOIN sk b ON a.source < b.source
    ),
    est AS (
      SELECT src_a, src_b,
             CAST(len(list_intersect(list_intersect(m, sa), sb)) AS DOUBLE)
               / len(m) AS ej
      FROM pairs
    ),
    sets AS (SELECT source, list(DISTINCT tok) AS ts FROM toks GROUP BY source),
    exact AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
               / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)))
               AS xj
      FROM sets a JOIN sets b ON a.source < b.source
    )
    SELECT est.src_a, est.src_b, ROUND(est.ej, 6) AS est_jaccard,
           ROUND(exact.xj, 6) AS exact_jaccard
    FROM est JOIN exact ON est.src_a = exact.src_a AND est.src_b = exact.src_b
    ORDER BY est.src_a, est.src_b
    """,
    doc="Cross-source token-set overlap from KMV sketches (Beyer et "
    "al. 2007): the merged-sketch membership fraction estimates "
    "Jaccard per source pair — next to the exact set Jaccard so the "
    "estimate quality is in the output. The pair grid costs "
    "sketch-array expressions over <=64 doubles per pair; the exact "
    "column is the sf-scale luxury a 100 TB run skips (it joins full "
    "distinct token sets). Hash-exactly oracle-checked.",
    tags=("text", "sketch", "overlap"),
)
def t32(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.io import ensure_parallelism
    from deeplake_spark.operators.sketches import kmv_jaccard, kmv_sketch

    d = ensure_parallelism(load_table(spark, sf_dir, "documents")).filter(
        F.col("source").isin("src0", "src1", "src2", "src3"))
    toks = (
        d.select("doc_id", "source", tokenize("text").alias("__t"))
        .select("doc_id", "source", F.explode_outer("__t").alias("tok0"))
        .filter(F.col("tok0").isNotNull())
        .selectExpr(
            "source",
            "CASE WHEN cast(doc_id / 20 as bigint) % 2 = 0 "
            "THEN concat(tok0, '_', source) ELSE tok0 END AS tok",
        )
    )
    # ONE corpus pass (r15 opt): the t31 convention — distinct
    # (source, token) once, sketch + exact token sets both derive from
    # it (collect_set over an already-distinct relation is identical).
    dt = toks.distinct()
    sk = kmv_sketch(dt, "tok", by=["source"], k=64)
    a = sk.select(F.col("source").alias("src_a"), F.col("sketch").alias("__sa"))
    b = sk.select(F.col("source").alias("src_b"), F.col("sketch").alias("__sb"))
    est = (
        a.join(b, F.col("src_a") < F.col("src_b"))
        .select("src_a", "src_b",
                kmv_jaccard("__sa", "__sb", k=64).alias("__ej"))
    )
    sets = dt.groupBy("source").agg(
        F.collect_set("tok").alias("__ts"))
    sa = sets.select(F.col("source").alias("src_a"), F.col("__ts").alias("__ta"))
    sb = sets.select(F.col("source").alias("src_b"), F.col("__ts").alias("__tb"))
    inter = "cast(size(array_intersect(__ta, __tb)) as double)"
    union = f"cast((size(__ta) + size(__tb)) as double) - {inter}"
    exact = (
        sa.join(sb, F.col("src_a") < F.col("src_b"))
        .selectExpr("src_a", "src_b", f"({inter}) / ({union}) AS __xj")
    )
    return (
        est.join(exact, ["src_a", "src_b"])
        .select("src_a", "src_b",
                F.round(F.col("__ej"), 6).alias("est_jaccard"),
                F.round(F.col("__xj"), 6).alias("exact_jaccard"))
        .orderBy("src_a", "src_b")
    )

# t33 registers HERE (text_ops), not in dedup_ops, so the driver's
# correctness window — the first 50 queries in queries() INSERTION
# order, i.e. d01-d10 + q01-q22 + r01-r18 — stays stable (round 10
# registered it in dedup_ops and silently evicted r18 from the
# window). The operator itself lives in operators/dedup.py.

@query(
    "t33_cdc_shared_passages",
    oracle="""
    WITH base AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      -- planted shifted copies: same text behind a doc-specific prefix,
      -- so fixed-stride windows would misalign but content-defined
      -- boundaries re-synchronize inside the shared passage
      SELECT doc_id + 1000000,
             'prefix' || CAST(doc_id AS VARCHAR) || ' padd ' || text
      FROM documents WHERE doc_id < 12
    ),
    toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         t -> t <> '') AS t
      FROM base
    ),
    rws AS (
      SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i
      FROM toks WHERE len(t) >= 1
    ),
    flagged AS (
      SELECT doc_id, i, t[i] AS tok,
             CASE WHEN CAST(('0x' || substr(md5(
               array_to_string(t[greatest(1, i - 3):i], ' ') || '#0'),
               1, 15)) AS UBIGINT) % 16 = 0 THEN 1 ELSE 0 END AS b
      FROM rws
    ),
    segged AS (
      SELECT doc_id, i, tok,
             SUM(b) OVER (PARTITION BY doc_id ORDER BY i) - b AS seg
      FROM flagged
    ),
    chunks AS (
      SELECT DISTINCT doc_id,
             string_agg(tok, ' ' ORDER BY i) AS chunk
      FROM segged GROUP BY doc_id, seg
    ),
    dup AS (
      -- min_docs=2, max_docs=100: the boilerplate cap that keeps the
      -- pair fan-out quadratic only in TRUE passage sharing
      SELECT chunk FROM chunks GROUP BY chunk
      HAVING COUNT(*) >= 2 AND COUNT(*) <= 100
    ),
    hits AS (SELECT chunks.* FROM chunks SEMI JOIN dup USING (chunk))
    SELECT a.doc_id AS a, b.doc_id AS b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_chunks
    FROM hits a JOIN hits b ON a.chunk = b.chunk AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    ORDER BY a, b
    """,
    doc="Shared-passage detection via content-defined chunking (the "
    "rsync/LBFS boundary trick on tokens): chunk ends where "
    "md5(last-4-tokens) % 16 == 0, so a passage pasted at a DIFFERENT "
    "offset re-chunks identically and pairs by plain chunk equality — "
    "the shift robustness d06's fixed windows lack. Planted copies "
    "behind doc-specific prefixes prove it: every (orig, copy) pair "
    "shares its interior chunks despite the misaligned prefix. One "
    "tokenize pass, per-doc running-sum segmentation (partitioned "
    "window, never global), chunk-keyed hash joins.",
    tags=("dedup", "cdc", "text"),
)
def t33(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.operators.dedup import cdc_shared_passages

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.filter(F.col("doc_id") < 12).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.lit("prefix"), F.col("doc_id").cast("string"),
                 F.lit(" padd "), F.col("text")).alias("text"),
    )
    base = d.unionByName(planted)
    return cdc_shared_passages(base).orderBy("a", "b")


@query(
    "t34_bpe_token_counts",
    # No oracle BY DESIGN: the BPE encode loop is per-word iterative
    # (merge i+1 depends on merge i's output), so it has no DuckDB
    # spelling — the driver records the rows-only check. Exactness is
    # pinned elsewhere: tests/test_bpe.py proves the Spark lane equals
    # the pure-Python reference encoder token-for-token, the round trip
    # is lossless, and training is deterministic; test_bpe.py also pins
    # this query's per-doc invariants (n_words <= n_bpe_tokens <=
    # n_chars + n_words: every word emits between 1 and len(word)+1
    # subword tokens).
    doc="Exact-BPE token counting over documents (Sennrich 2016, "
    "operators/bpe.py): train 200 merges on the corpus's top-5k word "
    "types (one distributed frequency pass, driver-side fit, memoized "
    "per session), then count subword tokens per document with the "
    "Arrow-batched encoder. Emits the whitespace word count and char "
    "count alongside — the two bounds the exact count interpolates. "
    "100 TB shape: training cost is ONE tokenize+groupBy pass "
    "regardless of corpus size (the fit sees <=5k rows); encode is "
    "embarrassingly parallel with a per-batch distinct-word memo.",
    tags=("text", "tokenize", "bpe"),
)
def t34(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.operators.bpe import bpe_token_count, train_bpe

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # trained merge lists per (session, sf_dir) — training is one corpus
    # pass + a driver-side fit (trap 10's bounded-collect protocol);
    # warm bench re-runs must not pay it again
    merges = memo.BPE_MERGE_MEMO.get(
        (memo.session_key(spark), sf_dir),
        lambda: train_bpe(d, num_merges=200, max_word_types=5_000))
    out = bpe_token_count(d, merges, "text", "n_bpe_tokens")
    return out.select(
        "doc_id",
        F.col("n_bpe_tokens"),
        F.size(tokenize("text")).cast("int").alias("n_words"),
        F.length("text").cast("int").alias("n_chars"),
    ).orderBy("doc_id")


@query(
    "t35_dup_window_excision",
    oracle="""
    WITH base AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      -- planted cross-doc copies behind doc-specific lead/outro tokens
      SELECT doc_id + 2000000,
             'lead' || CAST(doc_id AS VARCHAR) || ' intro ' || text
               || ' outro'
      FROM documents WHERE doc_id < 8
      UNION ALL
      -- a within-document repetition (text doubled)
      SELECT 3000000, text || ' ' || text FROM documents WHERE doc_id = 9
    ),
    toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         t -> t <> '') AS t
      FROM base
    ),
    rws AS (
      SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i
      FROM toks WHERE len(t) >= 1
    ),
    tok AS (
      SELECT doc_id, i, t[i] AS tok,
             CASE WHEN i + 7 <= len(t)
                  THEN array_to_string(t[i:i+7], ' ') END AS wkey
      FROM rws
    ),
    occ AS (
      SELECT doc_id, i, wkey, doc_id * 1000000 + i AS ord
      FROM tok WHERE wkey IS NOT NULL
    ),
    dup AS (
      SELECT wkey, min(ord) AS keep_ord FROM occ
      GROUP BY wkey HAVING COUNT(*) >= 2
    ),
    dup_occ AS (
      SELECT o.doc_id, o.i FROM occ o
      JOIN dup d ON o.wkey = d.wkey AND o.ord <> d.keep_ord
    ),
    exc AS (
      SELECT DISTINCT doc_id, unnest(range(i, i + 8)) AS j FROM dup_occ
    ),
    kept AS (
      SELECT tok.doc_id, tok.i, tok.tok FROM tok
      ANTI JOIN exc ON tok.doc_id = exc.doc_id AND tok.i = exc.j
    ),
    clean AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS clean_text,
             COUNT(*) AS nk
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           coalesce(c.clean_text, '') AS clean_text,
           CAST(len(t.t) AS INT) AS n_tokens,
           CAST(len(t.t) - coalesce(c.nk, 0) AS INT) AS n_removed
    FROM toks t LEFT JOIN clean c USING (doc_id)
    ORDER BY t.doc_id
    """,
    doc="Substring-dedup CLEAN step (Lee et al. 2021 ExactSubstr's "
    "rewrite half; d06/dup_window_stats is the detection half): every "
    "8-token window repeated >=2 times keeps only its globally-first "
    "occurrence — tokens covered by any non-canonical duplicate window "
    "are excised and the document text is reassembled in order. "
    "Planted fixtures prove both lanes: cross-doc copies behind "
    "doc-specific lead/outro tokens lose their shared interior to the "
    "original's canonical copy, and a doubled document cleans its "
    "second half. One explode, one window-key groupBy carrying "
    "(count, min ord), a bounded w-row coverage explode for TRUE "
    "duplicates only, one (doc, pos) anti-join, per-doc ordered "
    "reassembly — partitioned windows only.",
    tags=("dedup", "text", "excision"),
)
def t35(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.operators.dedup import excise_dup_windows

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = d.filter(F.col("doc_id") < 8).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat(F.lit("lead"), F.col("doc_id").cast("string"),
                 F.lit(" intro "), F.col("text"),
                 F.lit(" outro")).alias("text"))
    doubled = d.filter(F.col("doc_id") == 9).select(
        F.lit(3_000_000).cast("long").alias("doc_id"),
        F.concat(F.col("text"), F.lit(" "), F.col("text")).alias("text"))
    base = d.unionByName(copies).unionByName(doubled)
    return excise_dup_windows(base, w=8, min_count=2).orderBy("doc_id")


@query(
    "t36_fuzzy_decontamination",
    oracle="""
    WITH evals AS (
      -- planted eval set: 6 exact copies of corpus docs + one
      -- unrelated probe that must NOT pair at threshold 1.0
      SELECT doc_id + 5000000 AS doc_id, text FROM documents
      WHERE doc_id < 6
      UNION ALL SELECT 6000000, 'qq1 qq2 qq3 qq4 qq5 qq6'
    ),
    ctoks AS (SELECT doc_id,
              list_filter(string_split_regex(lower(text), '\\s+'),
                          t -> t <> '') AS t FROM documents),
    etoks AS (SELECT doc_id,
              list_filter(string_split_regex(lower(text), '\\s+'),
                          t -> t <> '') AS t FROM evals),
    csh AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(t) - 2, 0) + 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s FROM ctoks),
    esh AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(t) - 2, 0) + 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s FROM etoks),
    cex AS (SELECT doc_id, unnest(s) AS sng FROM csh WHERE len(s) > 0),
    eex AS (SELECT doc_id, unnest(s) AS sng FROM esh WHERE len(s) > 0),
    common AS (
      SELECT c.doc_id AS a, e.doc_id AS b, COUNT(*) AS n_common
      FROM cex c JOIN eex e ON c.sng = e.sng
      GROUP BY c.doc_id, e.doc_id
    )
    SELECT m.a, m.b,
           ROUND(m.n_common / CAST(sa.ns + sb.ns - m.n_common AS DOUBLE),
                 6) AS jaccard
    FROM common m
    JOIN (SELECT doc_id, len(s) AS ns FROM csh) sa ON sa.doc_id = m.a
    JOIN (SELECT doc_id, len(s) AS ns FROM esh) sb ON sb.doc_id = m.b
    WHERE m.n_common = sa.ns + sb.ns - m.n_common
    ORDER BY m.a, m.b
    """,
    doc="FUZZY cross-corpus decontamination (dedup.minhash_cross_pairs "
    "— the near-dup complement of d08's exact n-gram check): MinHash "
    "sign both corpora, band, bucket-join LEFT x RIGHT (never a self "
    "or cross join; the tiny eval side broadcasts), exact-Jaccard "
    "verify candidates. Oracle-checkable configuration per d04's "
    "argument: threshold 1.0 + planted exact eval copies — identical "
    "shingle sets give identical signatures for ANY hash, so J=1 "
    "pairs collide in EVERY band and LSH recall on the admitted set "
    "is provably 1; DuckDB computes the exhaustive J=1 cross pair "
    "set. Production thresholds (<1) are recall-gated in "
    "tests/test_operators.py.",
    tags=("dedup", "decontamination", "minhash"),
)
def t36(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.operators.dedup import minhash_cross_pairs

    corpus = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    evals = corpus.filter(F.col("doc_id") < 6).select(
        (F.col("doc_id") + 5_000_000).alias("doc_id"), "text"
    ).unionByName(spark.createDataFrame(
        [(6_000_000, "qq1 qq2 qq3 qq4 qq5 qq6")],
        "doc_id long, text string"))
    # num_perm=16/bands=4: at threshold 1.0 the recall proof holds for
    # ANY signature width, and the 16-perm signature expression compiles
    # and evaluates ~1.6x cheaper (measured; trap 6 — the expr compiles
    # in BOTH sides' banded plans). Production fuzzy thresholds keep the
    # operator's 32/8 default.
    return minhash_cross_pairs(corpus, evals, num_perm=16, bands=4,
                               threshold=1.0).orderBy("a", "b")


@query(
    "t37_source_cap",
    oracle="""
    WITH u AS (
      SELECT source, doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#cap'),
                   1, 8)) AS UBIGINT) / 4294967296.0 AS uu
      FROM documents
    ),
    r AS (
      SELECT source, doc_id,
             row_number() OVER (PARTITION BY source
                                ORDER BY uu, doc_id) AS rn
      FROM u
    )
    SELECT source, doc_id FROM r WHERE rn <= 15
    ORDER BY source, doc_id
    """,
    doc="Per-source cap (sampling.cap_per_group): keep at most k=15 "
    "docs per source, drawn as a deterministic uniform sample without "
    "replacement — the 'cap every source at N documents' pipeline step "
    "a fraction can't express (fractions keep fraction*size; a cap "
    "keeps min(k, size), robust to one giant source). Selection = k "
    "smallest (md5-uniform, id) per group, computed in TWO bounded "
    "window stages (per-(group, hash-bucket) local top-k, then top-k "
    "of <= buckets*k survivors) so a 10-billion-row source never "
    "lands on one reducer; the DuckDB oracle uses the equivalent "
    "single-window spelling.",
    tags=("sampling", "cap"),
)
def t37(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.operators.sampling import cap_per_group

    d = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id")
    return (cap_per_group(d, "source", 15, id_col="doc_id", salt="cap")
            .select("source", "doc_id").orderBy("source", "doc_id"))


@query(
    "t38_epoch_shuffle",
    oracle="""
    WITH u AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#ep1'),
                   1, 8)) AS UBIGINT) / 4294967296.0 AS uu
      FROM documents
    )
    SELECT CAST(row_number() OVER (ORDER BY uu, doc_id) - 1 AS BIGINT)
             AS epoch_rank,
           doc_id
    FROM u
    ORDER BY epoch_rank
    """,
    doc="Deterministic epoch shuffle (sampling.epoch_shuffle): global "
    "permutation rank by md5-uniform(id # salt) with id tiebreak — "
    "rotate the salt per epoch; reproducible on any cluster size/"
    "engine, no RNG state. Spark computes the rank with a range-"
    "partitioned sort + partition offsets (io.with_row_id — no "
    "unpartitioned window, trap 7); the oracle uses the equivalent "
    "single-window spelling.",
    tags=("sampling", "shuffle"),
)
def t38(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.operators.sampling import epoch_shuffle

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return (epoch_shuffle(d, salt="ep1")
            .select(F.col("epoch_rank").cast("long").alias("epoch_rank"),
                    "doc_id")
            .orderBy("epoch_rank"))


@query(
    "t39_bloom_membership",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, md5(lower(text)) AS dg
      FROM documents WHERE doc_id % 2 = 0
    ),
    cbits AS (
      SELECT CAST(CAST(('0x' || substr(md5(dg || '#' ||
               CAST(j AS VARCHAR)), 1, 15)) AS UBIGINT) % 3840 AS BIGINT)
               AS pos
      FROM corpus, range(5) t(j)
    ),
    bloom AS (
      SELECT pos // 60 AS wd,
             bit_or(1::BIGINT << CAST(pos % 60 AS INT)) AS bits
      FROM cbits GROUP BY 1
    ),
    probes AS (
      SELECT doc_id, md5(lower(text)) AS dg
      FROM documents WHERE doc_id % 2 = 1
      UNION ALL
      SELECT doc_id + 1000000, dg FROM corpus
    ),
    pbits AS (
      SELECT doc_id, dg,
             CAST(CAST(('0x' || substr(md5(dg || '#' ||
               CAST(j AS VARCHAR)), 1, 15)) AS UBIGINT) % 3840 AS BIGINT)
               AS pos
      FROM probes, range(5) t(j)
    ),
    checks AS (
      SELECT p.doc_id, p.dg,
             SUM(CASE WHEN b.bits IS NOT NULL AND
                   (b.bits & (1::BIGINT << CAST(p.pos % 60 AS INT))) <> 0
                 THEN 1 ELSE 0 END) AS nset
      FROM pbits p LEFT JOIN bloom b ON b.wd = p.pos // 60
      GROUP BY 1, 2
    ),
    members AS (SELECT DISTINCT dg FROM corpus),
    flags AS (
      SELECT c.doc_id,
             CASE WHEN c.nset = 5 THEN 1 ELSE 0 END AS hit,
             CASE WHEN m.dg IS NOT NULL THEN 1 ELSE 0 END AS is_member
      FROM checks c LEFT JOIN members m ON c.dg = m.dg
    )
    SELECT hit, is_member, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM flags GROUP BY 1, 2 ORDER BY hit, is_member
    """,
    doc="Bloom-filter ingest admission (operators.sketches.bloom_sketch/"
    "bloom_contains): the even-id half of the corpus builds a "
    "64-word/5-hash Bloom filter over content digests; arrivals (the "
    "odd-id half plus replays of the corpus itself) probe it for "
    "have-we-seen-this membership WITHOUT joining the corpus — the "
    "truth table of (hit, is_member) counts is the output, and the "
    "hash match proves the no-false-negative guarantee: a "
    "(hit=0, is_member=1) row can never appear. Bit positions are "
    "md5-int60 % m with 60 bits packed per bigint word (shifts stay "
    "<= 59, portable to DuckDB's 1::BIGINT << b), so the filter is "
    "deterministic and exactly oracle-checkable. Build = one "
    "(word)-keyed shuffle with map-side bit_or partials (<= mappers x "
    "n_words rows regardless of corpus size); the probe is a pure "
    "expression over a broadcast 1-row side table. At 100 TB the "
    "persisted filter (sketches.save_sketch/append_bloom_delta — "
    "OR-merge == fresh rebuild bit-for-bit) screens new arrivals at "
    "KB cost; positives fall to exact verification, the LSH-candidate "
    "convention.",
    tags=("text", "sketch", "dedup"),
)
def t39(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.operators.sketches import bloom_contains, bloom_sketch

    nw, kh = 64, 5
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.lower("text")).alias("dg"))
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    bloom = bloom_sketch(corpus, "dg", n_words=nw, k_hashes=kh)
    probes = (docs.filter(F.col("doc_id") % 2 == 1)
              .unionByName(corpus.select(
                  (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
                  "dg")))
    flagged = (probes.crossJoin(F.broadcast(bloom.select("bloom")))
               .select("dg", bloom_contains("bloom", "dg", nw, kh)
                       .cast("int").alias("hit")))
    members = corpus.select("dg").distinct().withColumn(
        "is_member", F.lit(1))
    return (flagged.join(F.broadcast(members), "dg", "left")
            .select("hit",
                    F.coalesce("is_member", F.lit(0)).alias("is_member"))
            .groupBy("hit", "is_member")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy("hit", "is_member"))


@query(
    "t40_sample_quantile_sketch",
    oracle="""
    WITH u AS (
      SELECT lang, CAST(n_chars AS DOUBLE) AS v,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) ||
               '|len#0'), 1, 15)) AS UBIGINT)
               / 1152921504606846976.0 AS uu
      FROM documents
      WHERE n_chars IS NOT NULL AND doc_id IS NOT NULL
    ),
    topk AS (
      SELECT lang, v FROM (
        SELECT lang, v,
               row_number() OVER (PARTITION BY lang ORDER BY uu) AS r
        FROM u) WHERE r <= 64
    ),
    sk AS (
      SELECT lang, list_sort(list(v)) AS vs, COUNT(*) AS n
      FROM topk GROUP BY lang
    ),
    est AS (
      SELECT lang,
             vs[GREATEST(1, CAST(ceil(0.25 * n) AS INT))] AS est_p25,
             vs[GREATEST(1, CAST(ceil(0.5 * n) AS INT))] AS est_p50,
             vs[GREATEST(1, CAST(ceil(0.9 * n) AS INT))] AS est_p90
      FROM sk
    ),
    full_vs AS (
      SELECT lang, list_sort(list(v)) AS vs, COUNT(*) AS n
      FROM u GROUP BY lang
    ),
    exact AS (
      SELECT lang,
             vs[GREATEST(1, CAST(ceil(0.5 * n) AS INT))] AS exact_p50,
             vs[GREATEST(1, CAST(ceil(0.9 * n) AS INT))] AS exact_p90
      FROM full_vs
    )
    SELECT est.lang, est_p25, est_p50, est_p90, exact_p50, exact_p90
    FROM est JOIN exact ON est.lang = exact.lang
    ORDER BY est.lang
    """,
    doc="Mergeable quantile sketch (operators.sketches.sample_sketch — "
    "bottom-k coordinated row sampling, Cohen & Kaplan 2007): per-"
    "language document-length quantiles estimated from the 64 rows "
    "with the smallest md5-uniform(doc_id|salt) hashes, NEXT TO the "
    "exact same-spelling nearest-rank quantiles so estimate quality "
    "is visible (the t31 KMV display convention; the exact columns "
    "are the display — at 100 TB only the sketch side runs). "
    "Deterministic (no RNG), hash-exactly oracle-checkable, and "
    "mergeable: disjoint-shard sketches OR append deltas combine by "
    "keeping the k hash-smallest pairs, equal to a fresh full build "
    "(sketches.sample_merge/append_sample_delta, pinned in tests) — "
    "so persisted per-group samples answer quantile/distribution "
    "queries without re-scanning the corpus. Build = one bounded "
    "partitioned WindowGroupLimit (grouped) or TakeOrderedAndProject "
    "(global); estimates are pure array expressions over <= k doubles.",
    tags=("text", "sketch", "stats"),
)
def t40(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.operators.sketches import (
        sample_quantile, sample_sketch)

    d = (load_table(spark, sf_dir, "documents")
         .select("lang", "doc_id", "n_chars")
         .filter(F.col("n_chars").isNotNull() & F.col("doc_id").isNotNull()))
    sk = sample_sketch(d, "n_chars", "doc_id", by=["lang"], k=64,
                       salt="len")
    est = sk.select(
        "lang",
        sample_quantile(F.col("sample"), 0.25).alias("est_p25"),
        sample_quantile(F.col("sample"), 0.5).alias("est_p50"),
        sample_quantile(F.col("sample"), 0.9).alias("est_p90"))
    vs = F.array_sort(F.collect_list(F.col("n_chars").cast("double")))
    full = (d.groupBy("lang")
            .agg(vs.alias("__vs"), F.count(F.lit(1)).alias("__n")))

    def rank(q: float):
        return F.element_at(
            F.col("__vs"),
            F.greatest(F.lit(1),
                       F.ceil(F.lit(q) * F.col("__n")).cast("int")))

    exact = full.select("lang", rank(0.5).alias("exact_p50"),
                        rank(0.9).alias("exact_p90"))
    return est.join(exact, "lang").orderBy("lang")


@query(
    "t44_cm_token_frequencies",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({_DUCK_TOKS.format(c="text")}) AS tok FROM documents
    ),
    cells AS (
      SELECT (j * 2048 + CAST(CAST(('0x' || substr(md5(tok || '#' ||
               CAST(j AS VARCHAR)), 1, 15)) AS UBIGINT) % 2048
               AS BIGINT)) AS cell,
             COUNT(*) AS n
      FROM toks, range(4) t(j) GROUP BY 1
    ),
    exact AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_count
      FROM toks GROUP BY tok
      ORDER BY exact_count DESC, tok LIMIT 10
    ),
    probe AS (
      SELECT e.tok, e.exact_count,
             (j * 2048 + CAST(CAST(('0x' || substr(md5(e.tok || '#' ||
               CAST(j AS VARCHAR)), 1, 15)) AS UBIGINT) % 2048
               AS BIGINT)) AS cell
      FROM exact e, range(4) t(j)
    )
    SELECT p.tok, CAST(MIN(COALESCE(c.n, 0)) AS BIGINT) AS est_count,
           p.exact_count
    FROM probe p LEFT JOIN cells c USING (cell)
    GROUP BY p.tok, p.exact_count
    ORDER BY p.exact_count DESC, p.tok
    """,
    doc="Count-Min token frequencies (Cormode & Muthukrishnan 2005; "
    "operators.sketches.cm_sketch): d=4 rows x w=2048 counters over "
    "every token occurrence, point estimate = min over the d cells — "
    "never an underestimate — shown NEXT TO the exact counts for the "
    "top-10 tokens (the t31 display convention). The frequency member "
    "of the sketch family; deterministic md5 rows make it exactly "
    "oracle-checkable, and counts ADD, so delta maintenance and "
    "cross-shard merges are exact cell-for-cell (operator tests pin "
    "the law). Build = one (cell)-keyed shuffle with map-side partial "
    "counts (<= mappers x d*w rows at any corpus size); estimates are "
    "pure expressions over a broadcast 32 KB side table.",
    tags=("text", "sketch", "stats"),
)
def t44(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.io import ensure_parallelism
    from deeplake_spark.operators.sketches import cm_estimate, cm_sketch

    d_, w_ = 4, 2048
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    toks = (docs.select(F.explode_outer(tokenize("text"))
                        .alias("tok"))
            .filter(F.col("tok").isNotNull()))
    # ONE corpus pass (r15 opt): both the sketch and the exact top-10
    # derive from the SAME (token, count) aggregate — counts are
    # additive, so the weighted cm build over vocabulary rows equals
    # the build over the occurrence stream cell-for-cell (law pinned
    # in tests/test_operators.py); the former spelling tokenized the
    # corpus once per consumer (guide §2.4).
    tc = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("__n"))
    sk = cm_sketch(tc, "tok", d=d_, w=w_, weight_col="__n")
    exact = (tc.withColumnRenamed("__n", "exact_count")
             .orderBy(F.desc("exact_count"), "tok").limit(10))
    return (exact.crossJoin(F.broadcast(sk.select("cm")))
            .select("tok",
                    cm_estimate("cm", "tok", d_, w_)
                    .cast("long").alias("est_count"),
                    "exact_count")
            .orderBy(F.desc("exact_count"), "tok"))


@query(
    "t41_pmi_collocations",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKS.format(c="text")} AS t FROM documents
    ),
    pairs AS (
      SELECT t[i] AS w1, t[i + 1] AS w2
      FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i) s
      WHERE len(t) >= 2
    ),
    big AS (SELECT w1, w2, COUNT(*) AS c12 FROM pairs GROUP BY w1, w2),
    u1 AS (SELECT w1, COUNT(*) AS c1 FROM pairs GROUP BY w1),
    u2 AS (SELECT w2, COUNT(*) AS c2 FROM pairs GROUP BY w2),
    tot AS (SELECT COUNT(*) AS b FROM pairs),
    scored AS (
      SELECT big.w1, big.w2, CAST(c12 AS BIGINT) AS pair_count,
             ROUND(ln((c12 * b) / CAST(c1 * c2 AS DOUBLE)), 6) AS pmi
      FROM big JOIN u1 ON big.w1 = u1.w1
               JOIN u2 ON big.w2 = u2.w2
               CROSS JOIN tot
      WHERE c12 >= 5
    )
    SELECT w1, w2, pair_count, pmi FROM scored
    ORDER BY pmi DESC, w1, w2 LIMIT 50
    """,
    doc="PMI collocation extraction (Church & Hanks 1990) — the "
    "corpus-statistics pass behind phrase vocabularies and tokenizer "
    "seeding: pointwise mutual information ln(p(ab)/(p1(a)p2(b))) over "
    "adjacent-bigram slot marginals, min pair count 5, top 50 by "
    "(rounded pmi DESC, w1, w2) — the rounded-key ordering convention "
    "(t30) keeps the cross-engine sort stable; the c12>=5 threshold is "
    "an exact integer compare, so no unrounded-filter hazard. One "
    "tokenize+explode pass feeds the bigram relation; marginals and "
    "total derive from IT (three keyed aggregates with map-side "
    "partials, one 1-row broadcast), never a second corpus scan; the "
    "final is a TakeOrderedAndProject. At 100 TB the aggregates "
    "shuffle vocabulary-sized relations, not the corpus.",
    tags=("text", "stats", "lm"),
)
def t41(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.io import ensure_parallelism

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    toks = d.select(tokenize("text").alias("__t"))
    n = F.size("__t")
    pairs = (toks
             .select("__t", F.explode_outer(
                 F.when(n >= 2, F.sequence(F.lit(1), n - 1))).alias("__i"))
             .filter(F.col("__i").isNotNull())
             .select(F.element_at("__t", F.col("__i")).alias("w1"),
                     F.element_at("__t", F.col("__i") + 1).alias("w2")))
    from deeplake_spark.operators.dedup import _track

    # ONE corpus pass: the slot marginals and the total are exact
    # re-aggregations of the (w1, w2) counts — c1 = Σ_w2 c12,
    # c2 = Σ_w1 c12, b = Σ c12 — so u1/u2/tot derive from `big`.
    # r16 fix of the r15 claim: AQE exchange reuse does NOT collapse
    # the four `big` subtrees (the joins push DIFFERENT inferred
    # isnotnull(w1)/isnotnull(w2) filters into each branch, so the
    # exchanges canonicalize differently — proven by the committed
    # executed plan plans/r16/t41_pmi_collocations_r15code_final.txt:
    # 0 ReusedExchange, 4 corpus scans). `_track`-persist the
    # vocabulary-sized count relation instead (the d03 posting
    # convention): ONE tokenize+explode fill, every consumer reads
    # memory — 4 corpus scans → 1 in the executed plan.
    big = _track(
        pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12")))
    u1 = big.groupBy("w1").agg(F.sum("c12").alias("c1"))
    u2 = big.groupBy("w2").agg(F.sum("c12").alias("c2"))
    tot = big.agg(F.sum("c12").alias("b"))
    scored = (big.filter(F.col("c12") >= 5)
              .join(u1, "w1").join(u2, "w2")
              .crossJoin(F.broadcast(tot))
              .select(
                  "w1", "w2",
                  F.col("c12").cast("long").alias("pair_count"),
                  F.round(F.log(
                      (F.col("c12") * F.col("b"))
                      / (F.col("c1") * F.col("c2")).cast("double")), 6)
                  .alias("pmi")))
    return (scored.orderBy(F.desc("pmi"), "w1", "w2").limit(50)
            .select("w1", "w2", "pair_count", "pmi"))


@query(
    "t42_winnow_fingerprint_pairs",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000,
             'prefix' || CAST(doc_id AS VARCHAR) || ' padd ' || text
      FROM documents WHERE doc_id < 12
    ),
    toks AS (
      SELECT doc_id, {_DUCK_TOKS.format(c="text")} AS t FROM base
    ),
    hs AS (
      SELECT doc_id,
        CASE WHEN len(t) >= 4 THEN
          list_transform(range(1, len(t) - 2), i ->
            CAST(CAST(('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' '
              || t[i+2] || ' ' || t[i+3] || '#0'), 1, 15)) AS UBIGINT)
              AS BIGINT))
        ELSE [] END AS h
      FROM toks
    ),
    fps AS (
      SELECT doc_id, unnest(
        CASE WHEN len(h) >= 4 THEN
          list_distinct(list_transform(range(1, len(h) - 2), j ->
            list_min(list_slice(h, j, j + 3))))
        WHEN len(h) >= 1 THEN [list_min(h)]
        ELSE [] END) AS fp
      FROM hs
    )
    SELECT a.doc_id AS a, b.doc_id AS b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_fps
    FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING COUNT(*) >= 3
    ORDER BY a, b
    """,
    doc="Winnowing document fingerprints (Schleimer, Wilkerson & Aiken "
    "2003 — the MOSS plagiarism-detection algorithm): md5-portable "
    "4-gram hashes, per-window (w=4) minima, distinct per doc; doc "
    "pairs sharing >= 3 fingerprints. The GUARANTEE t07's rolling "
    "hash lacks: any shared token run of length >= w + k - 1 = 7 "
    "shares at least one fingerprint, while only ~1/w of positions "
    "are stored — planted copies behind doc-specific prefixes (the "
    "t33 fixture) surface with high shared counts. Selection is by "
    "value only, so the tie rule is engine-free. Shapes: hashes and "
    "winnow are pure per-row array expressions over PROJECTED columns "
    "(trap 3 — no re-evaluation inside the HOF windows), one "
    "fingerprint-keyed self-join with DISTINCT per-side aliases "
    "(trap 20); at 100 TB the pair fan-out is bounded by winnowing's "
    "1/w sampling and a t33-style max-docs cap on hot fingerprints.",
    tags=("text", "dedup", "fingerprint"),
)
def t42(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.operators.dedup import winnow_fingerprint_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = (docs.filter(F.col("doc_id") < 12)
               .select((F.col("doc_id") + F.lit(1_000_000))
                       .alias("doc_id"),
                       F.concat(F.lit("prefix"),
                                F.col("doc_id").cast("string"),
                                F.lit(" padd "),
                                F.col("text")).alias("text")))
    base = docs.unionByName(planted)
    # max_docs=None: the uncapped lane keeps the oracle exact at test
    # scale; production corpora pass the default cap
    return (winnow_fingerprint_pairs(base, k=4, w=4, min_shared=3,
                                     max_docs=None)
            .orderBy("a", "b"))


@query(
    "t43_unicode_normalization",
    oracle="""
    WITH fam AS (
      SELECT doc_id, text || ' caf' || chr(233) AS v
      FROM documents WHERE doc_id < 20
      UNION ALL
      SELECT doc_id, text || ' cafe' || chr(769) AS v
      FROM documents WHERE doc_id < 20
      UNION ALL
      SELECT doc_id, text || ' cafe' AS v
      FROM documents WHERE doc_id < 20
    ),
    agg AS (
      SELECT doc_id,
        COUNT(DISTINCT md5(v)) AS raw,
        COUNT(DISTINCT md5(nfc_normalize(v))) AS nfc,
        COUNT(DISTINCT md5(strip_accents(nfc_normalize(v)))) AS stripped
      FROM fam GROUP BY doc_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_families,
           CAST(SUM(raw) AS BIGINT) AS n_raw_digests,
           CAST(SUM(nfc) AS BIGINT) AS n_nfc_digests,
           CAST(SUM(stripped) AS BIGINT) AS n_stripped_digests
    FROM agg
    """,
    doc="Unicode normalization for dedup (functions.text."
    "normalize_unicode — Arrow UDF over stdlib unicodedata; Spark has "
    "no normalization builtin, DuckDB's nfc_normalize/strip_accents "
    "are the oracle twins): each planted family carries the composed "
    "e-acute (U+00E9), the decomposed e + combining acute (U+0301), "
    "and the plain-ASCII spelling — byte-different, so raw digests "
    "see 3 per family; NFC unifies composed/decomposed (2); accent "
    "stripping collapses all 3. Exact dedup without this step splits "
    "canonically-equal documents. The totals row is hash-checked "
    "against DuckDB computing the same three digest families.",
    tags=("text", "cleaning"),
)
def t43(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.functions.text import normalize_unicode

    # r15 opt: the lane touches 20 filtered rows x 3 variants — the
    # former ensure_parallelism spread 60 rows over 32 partitions (32
    # near-empty Arrow batches per UDF) and the 3-way union scanned
    # the parquet once per variant; one pruned scan + an inline
    # explode of the 3 suffix variants is the same 60 rows in one
    # partition. The variant fan-out is constant (3), so scale-free.
    base = (load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 20).select("doc_id", "text"))
    # composed U+00E9 / decomposed e + U+0301 / plain — the first two
    # render identically but are byte-different strings
    fam = base.select(
        "doc_id",
        F.explode(F.array(
            F.concat(F.col("text"), F.lit(" caf\u00e9")),
            F.concat(F.col("text"), F.lit(" cafe\u0301")),
            F.concat(F.col("text"), F.lit(" cafe")))).alias("v"))
    normed = fam.select(
        "doc_id",
        F.md5("v").alias("__raw"),
        F.md5(normalize_unicode(F.col("v"))).alias("__nfc"),
        F.md5(normalize_unicode(F.col("v"), strip_accents=True))
        .alias("__stripped"))
    agg = normed.groupBy("doc_id").agg(
        F.count_distinct("__raw").alias("raw"),
        F.count_distinct("__nfc").alias("nfc"),
        F.count_distinct("__stripped").alias("stripped"))
    return agg.agg(
        F.count(F.lit(1)).cast("long").alias("n_families"),
        F.sum("raw").cast("long").alias("n_raw_digests"),
        F.sum("nfc").cast("long").alias("n_nfc_digests"),
        F.sum("stripped").cast("long").alias("n_stripped_digests"))


@query(
    "t45_winnow_capped_boilerplate",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 60
      UNION ALL
      SELECT doc_id + 2000000,
             'prefix' || CAST(doc_id AS VARCHAR) || ' padd ' || text
             || ' standard footer applies all rights reserved worldwide'
             || ' contact support team'
      FROM documents WHERE doc_id < 40
    ),
    toks AS (
      SELECT doc_id, {{toks}} AS t FROM base
    ),
    hs AS (
      SELECT doc_id,
        CASE WHEN len(t) >= 4 THEN
          list_transform(range(1, len(t) - 2), i ->
            CAST(CAST(('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' '
              || t[i+2] || ' ' || t[i+3] || '#0'), 1, 15)) AS UBIGINT)
              AS BIGINT))
        ELSE [] END AS h
      FROM toks
    ),
    fps AS (
      SELECT doc_id, unnest(
        CASE WHEN len(h) >= 4 THEN
          list_distinct(list_transform(range(1, len(h) - 2), j ->
            list_min(list_slice(h, j, j + 3))))
        WHEN len(h) >= 1 THEN [list_min(h)]
        ELSE [] END) AS fp
      FROM hs
    ),
    bounded AS (
      SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= 16
    ),
    kept AS (
      SELECT f.doc_id, f.fp FROM fps f JOIN bounded USING (fp)
    )
    SELECT a.doc_id AS a, b.doc_id AS b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_fps
    FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING COUNT(*) >= 3
    ORDER BY a, b
    """.format(toks=_DUCK_TOKS.format(c="text")),
    doc="The CAPPED winnowing lane (winnow_fingerprint_pairs "
    "max_docs=16) — the arm a real corpus runs, now hash-checked: 40 "
    "planted docs share a 10-token boilerplate footer whose "
    "fingerprints hit document frequency 40 > 16 and are dropped "
    "before the self-join (DuckDB spells the cap as HAVING COUNT(*) "
    "<= 16 on the posting CTE), so the ~780 footer-only pairs "
    "contribute ZERO rows while each doc's genuine copy (same body "
    "behind a doc-specific prefix, df = 2) still surfaces with a "
    "high shared-fingerprint count. This moves the cap's "
    "boilerplate-zero-pair guarantee from a unit test to an "
    "oracle-checked query; at 100 TB the cap is what bounds the "
    "posting self-join's fan-out (the t33 convention).",
    tags=("text", "dedup", "fingerprint"),
)
def t45(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.operators.dedup import winnow_fingerprint_pairs

    docs = (load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 60).select("doc_id", "text"))
    footer = (" standard footer applies all rights reserved worldwide"
              " contact support team")
    planted = (load_table(spark, sf_dir, "documents")
               .filter(F.col("doc_id") < 40)
               .select((F.col("doc_id") + F.lit(2_000_000))
                       .alias("doc_id"),
                       F.concat(F.lit("prefix"),
                                F.col("doc_id").cast("string"),
                                F.lit(" padd "),
                                F.col("text"),
                                F.lit(footer)).alias("text")))
    base = docs.unionByName(planted)
    return (winnow_fingerprint_pairs(base, k=4, w=4, min_shared=3,
                                     max_docs=16)
            .orderBy("a", "b"))


@query(
    "t46_zipf_alpha",
    oracle=f"""
    WITH toks AS (
      SELECT {_DUCK_TOKS.format(c="text")} AS t FROM documents
    ),
    f AS (
      SELECT tok, COUNT(*) AS freq
      FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY tok
    ),
    top AS (
      SELECT tok, freq FROM f ORDER BY freq DESC, tok LIMIT 1000
    ),
    r AS (
      SELECT freq,
             row_number() OVER (ORDER BY freq DESC, tok) AS rnk
      FROM top
    ),
    d AS (SELECT ln(rnk) AS lx, ln(freq) AS ly FROM r),
    s AS (
      SELECT COUNT(*) AS n,
             SUM(CAST(lx AS DECIMAL(38,12))) AS sx,
             SUM(CAST(ly AS DECIMAL(38,12))) AS sy,
             SUM(CAST(lx * lx AS DECIMAL(38,12))) AS sxx,
             SUM(CAST(lx * ly AS DECIMAL(38,12))) AS sxy
      FROM d
    )
    SELECT CAST(n AS BIGINT) AS n_vocab,
           ROUND(-(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / NULLIF(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0),
                 6) AS alpha
    FROM s
    """,
    doc="Zipf exponent of the corpus token distribution — the standard "
    "corpus-health diagnostic (natural text sits near alpha = 1; "
    "boilerplate-heavy or synthetic corpora drift): least-squares "
    "slope of ln(freq) on ln(rank) over the top-1000 tokens, via "
    "exact sufficient statistics. Shapes: ranks come from "
    "io.with_row_id over the TakeOrdered top set (never an "
    "unpartitioned row_number window — trap 7); the four sums "
    "accumulate as DECIMAL(38,12) (order-independent, so the window "
    "tie-permutation within equal-frequency groups cannot move the "
    "hash — within a tie group freq is constant and the rank SET is "
    "identical on both engines), cast to DOUBLE only for the closed-"
    "form slope; the 1000-token cut is deterministic (freq DESC, "
    "token ASC on both sides). At 100 TB this is one vocabulary "
    "aggregate + a 1000-row fit — corpus-sized work only in the "
    "token count.",
    tags=("text", "stats"),
)
def t46(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.functions.text import tokenize
    from deeplake_spark.io import ensure_parallelism, with_row_id

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    toks = docs.select(tokenize("text").alias("__t"))
    freq = (toks.select(F.explode_outer("__t").alias("tok"))
            .filter(F.col("tok").isNotNull())
            .groupBy("tok").agg(F.count(F.lit(1)).alias("freq")))
    top = (freq.orderBy(F.desc("freq"), "tok").limit(1000)
           .withColumn("__neg", -F.col("freq")))
    ranked = with_row_id(top, order_by=["__neg", "tok"], col_name="__r0")
    d = ranked.select(
        F.log((F.col("__r0") + F.lit(1)).cast("double")).alias("__lx"),
        F.log(F.col("freq").cast("double")).alias("__ly"))
    s = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("__lx").cast("decimal(38,12)")).alias("sx"),
        F.sum(F.col("__ly").cast("decimal(38,12)")).alias("sy"),
        F.sum((F.col("__lx") * F.col("__lx")).cast("decimal(38,12)"))
        .alias("sxx"),
        F.sum((F.col("__lx") * F.col("__ly")).cast("decimal(38,12)"))
        .alias("sxy"))
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, sxy = F.col("sxx").cast("double"), F.col("sxy").cast("double")
    slope = ((n * sxy - sx * sy)
             / F.nullif(n * sxx - sx * sx, F.lit(0.0)))
    return s.select(F.col("n").cast("long").alias("n_vocab"),
                    F.round(-slope, 6).alias("alpha"))


@query(
    "t47_chat_turn_segmentation",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             'Header junk. User: ' || substr(text, 1, 40)
             || ' Assistant: ' || substr(text, 41, 50)
             || ' User: tell me more ' || CAST(doc_id AS VARCHAR)
             || ' Assistant: ' || substr(text, 91, 30) AS dialog
      FROM documents WHERE doc_id < 40
    ),
    marked AS (
      SELECT doc_id,
             regexp_replace(dialog, '(User:|Assistant:)',
                            chr(1) || '\\1', 'g') AS m
      FROM base
    ),
    parts AS (
      SELECT doc_id,
             unnest(range(1, len(p) + 1)) AS pos,
             unnest(p) AS part
      FROM (SELECT doc_id, string_split(m, chr(1)) AS p FROM marked)
    ),
    turns AS (
      SELECT doc_id, pos, part FROM parts
      WHERE part LIKE 'User:%' OR part LIKE 'Assistant:%'
    )
    SELECT doc_id,
           CAST(row_number() OVER (
             PARTITION BY doc_id ORDER BY pos) - 1 AS INT) AS turn_idx,
           CASE WHEN part LIKE 'User:%' THEN 'user'
                ELSE 'assistant' END AS role,
           regexp_replace(regexp_replace(part, '^(User:|Assistant:)', ''),
                          '^[ \t\n\f\r]+|[ \t\n\f\r]+\\z', '', 'g')
           AS content
    FROM turns
    ORDER BY doc_id, turn_idx
    """,
    doc="Chat-transcript segmentation (operators/restructure."
    "split_chat_turns — the SFT-data prep step): synthesized "
    "four-turn dialogues (with a pre-marker header that must be "
    "dropped) split into one row per turn with (doc_id, turn_idx, "
    "role, content). Marker insertion is a regexp_replace to a "
    "chr(1) separator, split + posexplode_outer with the null filter "
    "on the generator OUTPUT (trap 2), and the renumbering window is "
    "doc-partitioned (trap 7). Content equality is hash-checked "
    "byte-for-byte against DuckDB's zipped double-unnest spelling.",
    tags=("text", "sft", "pipeline"),
)
def t47(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.operators.restructure import split_chat_turns

    docs = (load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 40))
    dialog = F.concat(
        F.lit("Header junk. User: "), F.substring(F.col("text"), 1, 40),
        F.lit(" Assistant: "), F.substring(F.col("text"), 41, 50),
        F.lit(" User: tell me more "), F.col("doc_id").cast("string"),
        F.lit(" Assistant: "), F.substring(F.col("text"), 91, 30))
    base = docs.select("doc_id", dialog.alias("text"))
    return split_chat_turns(base).orderBy("doc_id", "turn_idx")


from deeplake_spark.queries.dedup_ops import _DUCK_SHINGLES3  # noqa: E402


@query(
    "t48_ngram_novelty",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKS.format(c="text")} AS t FROM documents
    ),
    sh AS (SELECT doc_id, {_DUCK_SHINGLES3.format(t="t")} AS s FROM toks
           WHERE len({_DUCK_SHINGLES3.format(t="t")}) > 0),
    ex AS (SELECT doc_id, unnest(s) AS sng FROM sh),
    dfq AS (SELECT sng, COUNT(*) AS df FROM ex GROUP BY sng),
    per_doc AS (
      SELECT e.doc_id, COUNT(*) AS ns,
             SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS novel
      FROM ex e JOIN dfq d ON e.sng = d.sng GROUP BY e.doc_id
    )
    SELECT s.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(p.ns) AS BIGINT) AS n_shingles,
           CAST(SUM(p.novel) AS BIGINT) AS n_novel,
           ROUND(CAST(SUM(p.novel) AS DOUBLE)
                 / CAST(SUM(p.ns) AS DOUBLE), 6) AS novelty
    FROM per_doc p JOIN documents s ON s.doc_id = p.doc_id
    GROUP BY s.source ORDER BY s.source
    """,
    doc="Per-source n-gram novelty — the corpus DIVERSITY diagnostic "
    "dual to the dedup lanes: the fraction of each source's distinct "
    "3-word shingles that appear NOWHERE else in the corpus (df = 1). "
    "Low novelty flags templated/boilerplate-heavy or internally "
    "duplicated sources before training wastes epochs on them; "
    "Self-BLEU-style diversity without the all-pairs cost. Shapes: "
    "the d03 posting relation (one tokenize+shingle pass, "
    "explode_outer + null filter), a shingle-keyed df aggregate, one "
    "join back, two bounded aggregates — no pair join at all, so at "
    "100 TB this costs a dedup PREP pass, not a dedup.",
    tags=("text", "diversity", "stats"),
)
def t48(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.operators.dedup import _posting, _track, shingle_sets

    docs = load_table(spark, sf_dir, "documents")
    # tracked persist (r15 opt): the posting feeds the df aggregate AND
    # the join back — the d03 persisted-posting convention; without it
    # the tokenize+shingle pass ran per consumer
    ex = _track(_posting(shingle_sets(docs, n=3), None))
    dfreq = ex.groupBy("sh").agg(F.count(F.lit(1)).alias("__df"))
    per_doc = (ex.join(dfreq, "sh")
               .groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("__ns"),
                    F.sum((F.col("__df") == 1).cast("long"))
                    .alias("__novel")))
    src = docs.select("doc_id", "source")
    return (per_doc.join(src, "doc_id")
            .groupBy("source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("__ns").cast("long").alias("n_shingles"),
                 F.sum("__novel").cast("long").alias("n_novel"),
                 F.round(F.sum("__novel").cast("double")
                         / F.sum("__ns").cast("double"), 6)
                 .alias("novelty"))
            .orderBy("source"))


@query(
    "t49_compression_quality",
    oracle=None,  # zlib has no DuckDB twin — rows-only lane by design
    # (deterministic within the container; distribution + monotonicity
    # pinned in tests/test_operators.py against planted repetitive /
    # natural / noise fixtures)
    doc="Gzip-compressibility quality proxy (functions.text."
    "compression_ratio — the Gopher/RefinedWeb entropy-style signal): "
    "compressed/raw byte ratio per document, aggregated per source as "
    "(n_docs, mean ratio, min, max). Repetitive/templated text "
    "compresses far below natural prose; the per-source mean flags "
    "low-entropy sources the rule-based t06 scores miss. Arrow-"
    "batched stdlib-zlib UDF (self-contained closure, trap 23); at "
    "100 TB this is a scan-side map plus one source-keyed aggregate.",
    tags=("text", "quality", "pipeline"),
)
def t49(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.functions.text import compression_ratio
    from deeplake_spark.io import ensure_parallelism

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    ratio = compression_ratio()
    scored = docs.select("source", ratio(F.col("text")).alias("__r"))
    return (scored.groupBy("source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.round(F.avg("__r"), 6).alias("mean_ratio"),
                 F.round(F.min("__r"), 6).alias("min_ratio"),
                 F.round(F.max("__r"), 6).alias("max_ratio"))
            .orderBy("source"))


@query(
    "t50_effective_tokens",
    oracle=f"""
    WITH d AS (
      SELECT source, doc_id,
             len({_DUCK_TOKS.format(c="text")}) AS nt,
             md5(lower(coalesce(text, ''))) AS h
      FROM documents
    ),
    k AS (
      SELECT source, nt,
             doc_id = MIN(doc_id) OVER (PARTITION BY h) AS keep
      FROM d
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN keep THEN nt ELSE 0 END) AS BIGINT)
             AS kept_tokens,
           ROUND(1.0 - CAST(SUM(CASE WHEN keep THEN nt ELSE 0 END)
                            AS DOUBLE)
                 / nullif(CAST(SUM(nt) AS DOUBLE), 0.0), 6)
             AS dup_token_ratio
    FROM k GROUP BY source ORDER BY source
    """,
    doc="Dedup-discounted token accounting — the 'effective data size' "
    "a curriculum actually pays for: per source, total tokens vs the "
    "tokens surviving exact keep-first dedup (corpus-wide md5 groups, "
    "keeper = min doc_id — the d02 convention, so a duplicate "
    "spanning sources credits its keeper's source). dup_token_ratio "
    "is the fraction of the source's token budget that is duplicate "
    "payload. Shapes: one tokenize pass, keep-first as a digest-keyed "
    "min AGGREGATE + join back (the dedup_corpus_lines convention — a "
    "corpus-hot duplicate document combines map-side instead of "
    "funneling one window task; AQE splits the hot join partition), "
    "one source-keyed aggregate — dedup-PREP cost, no pair join, no "
    "window over data.",
    tags=("text", "dedup", "stats"),
)
def t50(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.functions.text import token_count
    from deeplake_spark.io import ensure_parallelism

    from deeplake_spark.operators.dedup import _track

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    # digest over coalesce(text, ''): a NULL digest never equi-joins,
    # so a NULL-text document would silently drop from n_docs while
    # the oracle's window keeps it (r15 review; latent until the
    # driver regenerates documents with NULL rows). Tracked-persist:
    # d feeds BOTH the keepers aggregate and the join probe — without
    # it the CPU-heavy tokenize pass runs twice (the
    # dedup_corpus_lines convention).
    d = _track(docs.select(
        "source", "doc_id",
        token_count(F.col("text")).cast("long").alias("__nt"),
        F.md5(F.lower(F.coalesce(F.col("text"), F.lit("")))).alias("__h")))
    # Keep-first as a digest-keyed partial aggregate + join back
    # (NOT a digest-partitioned window): a corpus-hot duplicate's
    # digest group combines map-side; a window would funnel it
    # through one task that AQE cannot split (r14 verdict #1).
    keepers = d.groupBy("__h").agg(F.min("doc_id").alias("__keep_id"))
    k = d.join(keepers, "__h").withColumn(
        "__keep", F.col("doc_id") == F.col("__keep_id"))
    kept = F.sum(F.when(F.col("__keep"), F.col("__nt")).otherwise(F.lit(0)))
    return (k.groupBy("source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("__nt").cast("long").alias("n_tokens"),
                 kept.cast("long").alias("kept_tokens"),
                 F.round(F.lit(1.0) - kept.cast("double")
                         / F.nullif(F.sum("__nt").cast("double"),
                                    F.lit(0.0)), 6)
                 .alias("dup_token_ratio"))
            .orderBy("source"))


@query(
    "t51_chat_render",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             'Header junk. User: ' || substr(text, 1, 40)
             || ' Assistant: ' || substr(text, 41, 50)
             || ' User: tell me more ' || CAST(doc_id AS VARCHAR)
             || ' Assistant: ' || substr(text, 91, 30) AS dialog
      FROM documents WHERE doc_id < 40
    ),
    marked AS (
      SELECT doc_id,
             regexp_replace(dialog, '(User:|Assistant:)',
                            chr(1) || '\\1', 'g') AS m
      FROM base
    ),
    parts AS (
      SELECT doc_id,
             unnest(range(1, len(p) + 1)) AS pos,
             unnest(p) AS part
      FROM (SELECT doc_id, string_split(m, chr(1)) AS p FROM marked)
    ),
    turns AS (
      SELECT doc_id, pos,
             CASE WHEN part LIKE 'User:%' THEN 'user'
                  ELSE 'assistant' END AS role,
             regexp_replace(regexp_replace(part, '^(User:|Assistant:)', ''),
                          '^[ \t\n\f\r]+|[ \t\n\f\r]+\\z', '', 'g')
               AS content
      FROM parts
      WHERE part LIKE 'User:%' OR part LIKE 'Assistant:%'
    )
    SELECT doc_id,
           CAST(COUNT(*) AS INT) AS n_turns,
           string_agg(role || ': ' || content, chr(10) ORDER BY pos)
             AS rendered
    FROM turns GROUP BY doc_id ORDER BY doc_id
    """,
    doc="SFT template rendering (operators/restructure.render_chat — "
    "the inverse of t47's segmentation): the synthesized dialogues "
    "split into turns and fold back into ONE canonical training "
    "string per conversation ('role: content' joined by newline in "
    "turn order). Engine-exact ordered fold without string_agg: "
    "collect_list of (turn_idx, line) structs, array_sort, transform, "
    "array_join — one doc-keyed aggregate at 100 TB. Hash-checked "
    "byte-for-byte against DuckDB's ordered string_agg.",
    tags=("text", "sft", "pipeline"),
)
def t51(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.operators.restructure import (
        render_chat, split_chat_turns)

    docs = (load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 40))
    dialog = F.concat(
        F.lit("Header junk. User: "), F.substring(F.col("text"), 1, 40),
        F.lit(" Assistant: "), F.substring(F.col("text"), 41, 50),
        F.lit(" User: tell me more "), F.col("doc_id").cast("string"),
        F.lit(" Assistant: "), F.substring(F.col("text"), 91, 30))
    base = docs.select("doc_id", dialog.alias("text"))
    return (render_chat(split_chat_turns(base))
            .orderBy("doc_id"))


@query(
    "t52_line_dedup",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             substr(text, 1, 30) || chr(10) || 'COMMON FOOTER LINE'
             || chr(10) || ' ' || chr(10) || substr(text, 31, 30) AS t
      FROM documents WHERE doc_id < 60
    ),
    lines AS (
      SELECT doc_id,
             unnest(range(1, len(p) + 1)) AS pos,
             unnest(p) AS line
      FROM (SELECT doc_id, string_split(t, chr(10)) AS p FROM base)
    ),
    ranked AS (
      SELECT doc_id, pos, line,
             CASE WHEN trim(line) = '' THEN 1
                  ELSE row_number() OVER (
                    PARTITION BY line ORDER BY doc_id, pos)
             END AS rn
      FROM lines
    )
    SELECT doc_id,
           CAST(COUNT(*) AS INT) AS n_lines,
           CAST(SUM(CASE WHEN rn = 1 THEN 0 ELSE 1 END) AS INT)
             AS n_dropped,
           coalesce(string_agg(line, chr(10) ORDER BY pos)
                    FILTER (WHERE rn = 1), '') AS text
    FROM ranked GROUP BY doc_id ORDER BY doc_id
    """,
    doc="Corpus-global line deduplication "
    "(operators/dedup.dedup_corpus_lines — the C4 cleanup step, "
    "Raffel et al. 2020 §2.2 at line granularity): synthesized "
    "4-line documents share a boilerplate footer; every non-blank "
    "line keeps only its first corpus-wide occurrence (by doc id, "
    "position) and documents reassemble in order — the footer "
    "survives in doc 0 only, blank layout lines pass through. "
    "Keep-first is a line-keyed min(struct) AGGREGATE (partial-"
    "aggregated — a million-doc boilerplate line combines map-side, "
    "no window over data), one join back, one doc-keyed ordered "
    "fold. Reassembled text hash-checked byte-for-byte.",
    tags=("text", "dedup", "pipeline"),
)
def t52(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.operators.dedup import dedup_corpus_lines

    docs = (load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 60))
    t = F.concat_ws(
        "\n", F.substring(F.col("text"), 1, 30),
        F.lit("COMMON FOOTER LINE"), F.lit(" "),
        F.substring(F.col("text"), 31, 30))
    base = docs.select("doc_id", t.alias("text"))
    return dedup_corpus_lines(base).orderBy("doc_id")


@query(
    "t53_chatml_turns",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             '<|im_start|>system' || chr(10) || substr(text, 1, 25)
             || '<|im_end|>' || chr(10)
             || '<|im_start|>user' || chr(10) || substr(text, 26, 40)
             || '<|im_end|>' || chr(10)
             || '<|im_start|>assistant' || chr(10) || substr(text, 66, 35)
             || '<|im_end|>' AS dialog
      FROM documents WHERE doc_id < 40
    ),
    marked AS (
      SELECT doc_id,
             regexp_replace(dialog, '(<\\|im_start\\|>)',
                            chr(1) || '\\1', 'g') AS m
      FROM base
    ),
    parts AS (
      SELECT doc_id, pos, part FROM (
        SELECT doc_id,
               unnest(range(1, len(p) + 1)) AS pos,
               unnest(p) AS part
        FROM (SELECT doc_id, string_split(m, chr(1)) AS p FROM marked))
      WHERE regexp_matches(part, '^<\\|im_start\\|>')
    ),
    turns AS (
      SELECT doc_id, pos,
             regexp_replace(
               regexp_replace(part, '^<\\|im_start\\|>', ''),
               '(?s)<\\|im_end\\|>.*', '') AS zone
      FROM parts
    )
    SELECT doc_id,
           CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1
                AS INT) AS turn_idx,
           regexp_replace(regexp_extract(zone, '^([^\n]*)', 1),
                          '^[ \t\n\f\r]+|[ \t\n\f\r]+\\z', '', 'g') AS role,
           regexp_replace(regexp_replace(zone, '^[^\n]*\n?', ''),
             '^[ \t\n\f\r]+|[ \t\n\f\r]+\\z', '', 'g') AS content
    FROM turns ORDER BY doc_id, turn_idx
    """,
    doc="ChatML-template chat segmentation "
    "(operators/restructure.split_chat_turns(template='chatml'), r14 "
    "verdict #7): synthesized <|im_start|>role\\n...<|im_end|> "
    "dialogues split into (doc_id, turn_idx, role, content) rows with "
    "the ROLE captured from the turn header — the real SFT-corpus "
    "format where the role is marker syntax, not a 'Role:' prefix. "
    "Same engine shape as t47 (scan-side regexp split + posexplode + "
    "doc-partitioned renumber window); hash-checked against DuckDB's "
    "replay of the identical regex pipeline.",
    tags=("text", "sft", "pipeline"),
)
def t53(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.operators.restructure import split_chat_turns

    docs = (load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 40))
    dialog = F.concat(
        F.lit("<|im_start|>system\n"), F.substring(F.col("text"), 1, 25),
        F.lit("<|im_end|>\n"),
        F.lit("<|im_start|>user\n"), F.substring(F.col("text"), 26, 40),
        F.lit("<|im_end|>\n"),
        F.lit("<|im_start|>assistant\n"), F.substring(F.col("text"), 66, 35),
        F.lit("<|im_end|>"))
    base = docs.select("doc_id", dialog.alias("text"))
    return (split_chat_turns(base, template="chatml")
            .orderBy("doc_id", "turn_idx"))


@query(
    "t54_excerpt_containment",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 40
      UNION ALL
      SELECT doc_id + 2000000, substr(text, 1, 120)
      FROM documents WHERE doc_id < 40
    ),
    toks AS (SELECT doc_id, {_DUCK_TOKS.format(c="text")} AS t FROM corpus),
    sh AS (SELECT doc_id, {_DUCK_SHINGLES3.format(t="t")} AS s FROM toks
           WHERE len({_DUCK_SHINGLES3.format(t="t")}) > 0),
    ex AS (SELECT doc_id, unnest(s) AS sng FROM sh),
    common AS (
      SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS n_common
      FROM ex a JOIN ex b ON a.sng = b.sng AND a.doc_id <> b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT c.a, c.b,
           ROUND(c.n_common / CAST(sa.ns AS DOUBLE), 6) AS containment
    FROM common c
    JOIN (SELECT doc_id, len(s) AS ns FROM sh) sa ON sa.doc_id = c.a
    WHERE c.n_common / CAST(sa.ns AS DOUBLE) >= 0.8
    ORDER BY c.a, c.b
    """,
    doc="n-gram CONTAINMENT pairs (operators/dedup.containment_pairs "
    "— Broder 1997's resemblance-vs-containment split): planted "
    "excerpt documents (a 120-char prefix of each original, the "
    "syndicated-fragment / quoted-passage case) are caught at "
    "containment >= 0.8 where symmetric Jaccard stays low because the "
    "container is much bigger. Asymmetric: (a, b, containment) means "
    "a's shingles are mostly inside b. Same 100 TB shape as d03 "
    "(single persisted shingle pass, posting self-join, df cap "
    "available); unrounded threshold, rounded projection.",
    tags=("dedup", "containment", "pipeline"),
)
def t54(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deeplake_spark.operators.dedup import containment_pairs

    docs = (load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 40).select("doc_id", "text"))
    excerpts = docs.select(
        (F.col("doc_id") + F.lit(2_000_000)).alias("doc_id"),
        F.substring(F.col("text"), 1, 120).alias("text"))
    corpus = docs.unionByName(excerpts)
    return containment_pairs(corpus, threshold=0.8).orderBy("a", "b")
