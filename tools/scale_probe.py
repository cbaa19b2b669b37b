"""Scale probe: measure how headline operators scale with data size.

Correctness is gated at sf0.001/sf0.01 and the bench runs sf0.1 — this
tool answers the remaining question the plan review argues on paper:
does wall time actually grow ~linearly with input size, or does some
operator hide a superlinear join/shuffle? It replicates the sf0.1
tables KX times (keys shifted so cardinalities scale too, no
artificial duplicate blowup), writes them as multi-file parquet to
/tmp (so scans parallelize like real multi-file tables), runs a set of
headline operators at 1x and KX, and prints per-operator scaling
factors. A factor near K (or below, once fixed costs amortize) means
linear; >> K flags a superlinear shape.

Usage: python tools/scale_probe.py [K] [--out SCALING.md]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from deeplake_spark import get_spark
from deeplake_spark.io import load_table

BASE_SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
TESTDATA = BASE_SF
WORK = "/tmp/deeplake_spark_scale_probe"

#: the ANN routed-vs-exact section replicates the (2k-row) embeddings
#: table by these factors — independent of the main-table K because
#: below ~100k vectors both lanes are fixed-overhead-dominated and the
#: comparison measures job setup, not the scan the route prunes
ANN_KS = (64, 512)

#: key columns shifted per replica so joins/groupBys see K-times the
#: key cardinality, not K copies of every key (which would blow up
#: self-joins quadratically and measure the wrong thing)
SHIFT_KEYS = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "events": ["event_id", "user_id"],
}

TABLES = list(SHIFT_KEYS)


def replicate(spark, table: str, k: int, out_dir: str) -> None:
    df = load_table(spark, BASE_SF, table)
    shift = 10_000_000
    parts = []
    for i in range(k):
        p = df
        for key in SHIFT_KEYS[table]:
            p = p.withColumn(key, F.col(key) + F.lit(i * shift))
        parts.append(p)
    unioned = parts[0]
    for p in parts[1:]:
        unioned = unioned.unionByName(p)
    # every TOKEN suffixed with the replica id so replica corpora are
    # disjoint in shingle space: duplicate rates (and so candidate-pair
    # counts) scale linearly with data instead of quadratically (k-way
    # copies of every doc would measure an 8-way-duplicate pathology,
    # not operator scaling)
    if table == "documents":
        unioned = unioned.withColumn(
            "text",
            F.expr(
                "replace(regexp_replace(text, '(\\\\S+)', '$1§'), "
                f"'§', concat('_', cast(doc_id div {10_000_000} as string)))"
            ),
        )
    (unioned.repartition(max(4, 4 * k))
     .write.mode("overwrite").parquet(os.path.join(out_dir, f"{table}.parquet")))


def probes(reg):
    """(name, callable) pairs — headline operators spanning agg, dedup
    self-join, explode+agg, iterative CC, banding, and top-k."""
    names = [
        "q01_pricing_summary",
        "q18_large_volume_customers",
        "d01_exact_dup_groups",
        "d03_ngram_jaccard",
        "d06_dup_ngram_windows",
        "d07_dedup_clusters",
        "t15_vocab_topk",
        "t16_mixture_sample",
        "v08_near_dup_pairs",
        "v21_embedding_dispersion",
        # t20 is excluded: its doc_id < 300 workload filter pins work
        # constant under the probe's shifted-key replication
        "t19_temperature_mixture",
        "t22_curriculum_bins",
        "v22_norm_outliers",
        "t23_source_overlap",
        "t25_url_dedup",
        # t26/t27 join the probe as the newest heavy text shapes:
        # hashed-feature scoring (scan-only) and the bigram-LM joins
        "t26_hashed_linear_score",
        "t27_bigram_surprisal",
        # round-7 additions: tf-idf rank window + the double-aggregate
        # repetition metrics
        "t28_tfidf_keywords",
        "t29_repetition_metrics",
        # round-10: DSIR importance resampling (two tokenize passes +
        # broadcast ratio join + Gumbel top-k)
        "t30_dsir_selection",
        # round-12 additions (round-11 verdict task 5): the KMV sketch
        # build, the CDC per-token partitioned-window shape, and
        # exact-BPE counting (bounded driver fit memoized per session —
        # the x-K run re-trains per replica dir, so its t includes ONE
        # train). v24 is NOT here: its literal lane fixes k=8 clusters
        # by design (the oracle-checkable arm), so replication grows
        # cluster SIZE — the fixed-k K^2 anti-pattern the semdedup
        # section measures on purpose; its x8 point runs there, and the
        # scaling answer for semantic dedup is semantic_dedup_indexed
        # with corpus-proportional clusters (linear to x64).
        "t31_kmv_distinct_sketch",
        "t33_cdc_shared_passages",
        "t34_bpe_token_counts",
        # round-12 additions: MinHash cross-corpus decontamination
        # (sign both corpora, banded LEFT x RIGHT bucket join), the
        # two-stage per-source cap, the range-partitioned epoch
        # shuffle, and the two new sketch builds (Bloom bit_or
        # aggregation, bottom-k sample)
        "t36_fuzzy_decontamination",
        "t37_source_cap",
        "t38_epoch_shuffle",
        "t39_bloom_membership",
        "t40_sample_quantile_sketch",
        # second round-12 wave: the PMI aggregate chain and the
        # winnowing fingerprint self-join. t43 is excluded for t20's
        # reason: its doc_id < 20 planted-family filter pins work
        # constant under shifted-key replication.
        "t41_pmi_collocations",
        "t42_winnow_fingerprint_pairs",
        # the CM sketch build (cell-keyed shuffle, map-side partials)
        "t44_cm_token_frequencies",
        # t45 is excluded for t20's reason: its doc_id < 60 planted-
        # boilerplate fixture pins work constant under shifted-key
        # replication (measured flat 1.14 at x32 — fixture-bound, not
        # operator scaling). The capped OPERATOR's ladder is the
        # SCALING.md winnowing row (max_docs over the full corpus).
        # round-14 (r13 VERDICT task 3): the per-source n-gram novelty
        # lane — one shingle pass + shingle-keyed df aggregate + one
        # join back; the df aggregate is the skew candidate. Replica-
        # suffixed tokens keep the shingle-key cardinality scaling
        # linearly (no cross-replica df inflation). t46/t47/t49/v28
        # stay out: map + bounded-agg shapes, nothing join-bearing.
        "t48_ngram_novelty",
    ]
    return [(n, reg[n].fn) for n in names if n in reg]


def run(spark, fns, sf_dir, n=2):
    out = {}
    for name, fn in fns:
        best = None
        for _ in range(n):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        out[name] = round(best, 3)
    return out


def skew_section(spark, big_dir: str, k: int, hot_frac: float = 0.2):
    """Planted-skew probe: one orderkey owns ~`hot_frac` of lineitem,
    then the q18-shape join+agg runs three ways —

    - plain: AQE on, stock thresholds (at probe scale the hot partition
      is far below the 256 MB skew threshold, so nothing splits: this
      is the unmitigated single-hot-reducer shape);
    - aqe_split: skew thresholds lowered so AQE's skew-join split
      engages exactly as it would on real 100 TB partitions;
    - salted: plans/layout.salted_join spreads the hot key over 16
      sub-keys explicitly (the pre-AQE lever; also the groupBy salt).

    All three return identical results (asserted); the probe reports
    wall times so SCALING.md records whether mitigation keeps the
    hot-key plan near the uniform-data plan.
    """
    from deeplake_spark.plans.layout import salted_join

    li = spark.read.parquet(os.path.join(big_dir, "lineitem.parquet"))
    orders = spark.read.parquet(os.path.join(big_dir, "orders.parquet"))
    hot = orders.select("o_orderkey").head()[0]
    skew_path = os.path.join(WORK, "lineitem_skewed.parquet")
    (li.withColumn(
        "l_orderkey",
        F.when(F.rand(seed=7) < hot_frac, F.lit(hot))
        .otherwise(F.col("l_orderkey")))
     .repartition(max(4, 4 * k))
     .write.mode("overwrite").parquet(skew_path))
    sk = spark.read.parquet(skew_path)
    ord_r = orders.withColumnRenamed("o_orderkey", "l_orderkey") \
        .select("l_orderkey", "o_custkey")

    def q18_shape(join_df):
        return (join_df.groupBy("o_custkey")
                .agg(F.sum("l_quantity").alias("sum_qty")))

    plain = lambda: q18_shape(sk.join(ord_r, "l_orderkey"))
    salted = lambda: q18_shape(salted_join(sk, ord_r, "l_orderkey"))

    # emulate the 100 TB trigger point at probe scale: partitions past
    # the threshold and 2x the median are split; broadcast disabled so
    # the join is the sort-merge shape skew-split applies to. The
    # threshold SCALES with k (4 MB at the original 8x probe): a fixed
    # tiny advisory size at larger k over-fragments the reduce side and
    # measures scheduling overhead instead of the skew mitigation —
    # at 100 TB the stock 256 MB threshold has the same proportionality.
    mb = max(1, 4 * k // 8)
    skew_confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            f"{mb}m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": f"{mb}m",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }

    def timed(fn, n=2):
        best = None
        for _ in range(n):
            t0 = time.perf_counter()
            fn().write.mode("overwrite").format("noop").save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        return round(best, 3)

    saved = {c: spark.conf.get(c, None) for c in skew_confs}

    def set_confs(vals):
        for c, v in vals.items():
            if v is None:
                spark.conf.unset(c)
            else:
                spark.conf.set(c, v)

    rows = []
    try:
        # no-broadcast for ALL variants so they compare the same
        # physical join family
        set_confs({k2: skew_confs[k2] for k2 in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold")})
        rows.append({"variant": "plain_hot_key", "sec": timed(plain)})
        rows.append({"variant": "salted_hot_key", "sec": timed(salted)})
        set_confs(skew_confs)
        rows.append({"variant": "aqe_split_hot_key", "sec": timed(plain)})
        a = sorted(plain().collect())
        b = sorted(salted().collect())
        assert a == b, "salted_join changed the q18-shape result"
    finally:
        set_confs(saved)
    return {"hot_frac": hot_frac, "hot_key": int(hot), "rows": rows}


def _gate_docs_sorted(spark, k: int, out: str) -> int:
    """Gate corpus: k dense-re-id'd replicas written ID-SORTED across
    range-partitioned files with ~8 MB row groups — the ingest layout
    (a real multi-TB ingest writes row-id-ordered chunks;
    plans/layout.py). Text is inflated 8x (real documents are KBs; the
    sf0.1 fixture's ~100-char rows make every scan fixed-cost-bound
    and would hide what pruning skips — token SET per doc is unchanged,
    so term selectivities and the index size are unaffected). One
    contiguous 5% id slice additionally carries ' batchzz' (a
    crawl-batch term: selective AND clustered in id space, the regime
    probe→row-group pruning exists for) and scores in a narrow band
    ([49.75, 50.25]) while every OTHER doc's score oscillates across
    [0, 48.9] ∪ [51, 99.9] — so every row group's score min/max
    straddles the band and parquet VALUE stats cannot prune a BETWEEN
    on it, but the numeric index's row-id ranges can (quality scores
    genuinely cluster per crawl batch; layout is id-ordered, not
    value-ordered). Returns the corpus size."""
    df = load_table(spark, BASE_SF, "documents")
    base_n = df.count()
    n = base_n * k
    lo, hi = int(0.45 * n), int(0.45 * n) + n // 20
    reps = spark.range(k).withColumnRenamed("id", "rep")
    u = (df.crossJoin(reps)
         .select((F.col("doc_id") + F.col("rep") * base_n).alias("doc_id"),
                 F.expr("repeat(concat(text, ' '), 8)").alias("text"))
         .withColumn(
             "text",
             F.when((F.col("doc_id") >= lo) & (F.col("doc_id") < hi),
                    F.concat(F.col("text"), F.lit(" batchzz")))
             .otherwise(F.col("text")))
         .withColumn(
             "score",
             F.when(
                 (F.col("doc_id") >= lo) & (F.col("doc_id") < hi),
                 F.lit(49.75) + (F.col("doc_id") % 10) / F.lit(20.0))
             .otherwise(
                 # deterministic oscillation over [0,48.9] ∪ [51,99.9]:
                 # the (49.5, 50.5) band occurs ONLY in the batch slice
                 F.expr("CAST(doc_id * 7919 % 98 AS DOUBLE) + "
                        "IF(doc_id * 7919 % 98 >= 49, 2.0, 0.0) + "
                        "CAST(doc_id % 10 AS DOUBLE) / 10.0"))))
    (u.repartitionByRange(max(8, min(64, k)), "doc_id")
     .sortWithinPartitions("doc_id")
     .write.mode("overwrite").option("parquet.block.size", 8 << 20)
     .parquet(out))
    return n


def gate_section(spark, k: int):
    """Selectivity-gate + range-prune datapoints over the id-sorted
    gate corpus, three regimes per scale:

    - frequent ('spark', df ~0.77·N): the gate's claim — stock beats
      the forced route and the gap grows with corpus size.
    - selective-uniform ('dup', df ~0.05·N, zero id locality): routes
      under the default gate; its probe ranges span the corpus, so the
      coverage gate keeps the pushed range filter OUT of the plan.
    - selective-clustered ('batchzz', df = 0.05·N in ONE contiguous id
      slice — a crawl batch): the probe's row-id ranges push onto the
      corpus scan and parquet min/max skips ~95% of the row groups —
      the regime where the routed lane should BEAT the stock scan,
      and the reason the route exists at 100 TB (the reference's
      bitmap→chunk reads, icm/roaring.hpp)."""
    from deeplake_spark.operators.indexes import (
        InvertedIndex,
        build_inverted_index,
    )
    from deeplake_spark.plans import sqlrouting as rt

    out = {}
    # third point at 4k (x128 for the default k=32): the gate corpus is
    # small (5k docs at sf0.1), and the regime the route exists for —
    # corpus scan dominating fixed costs — only appears past ~500k docs
    for kk in (1, k, 4 * k):
        docs_path = os.path.join(WORK, f"gatedocs_x{kk}.parquet")
        _gate_docs_sorted(spark, kk, docs_path)
        d = spark.read.parquet(docs_path)
        idx_path = os.path.join(WORK, f"gateidx_x{kk}")
        build_inverted_index(d, "text", "doc_id").save(idx_path)
        d.createOrReplaceTempView("gate_docs")
        rt.register_path(spark, docs_path, "text", "inverted", idx_path,
                         "doc_id")

        def timed(q, n=2):
            best = None
            for _ in range(n):
                t0 = time.perf_counter()
                spark.sql(q).write.mode("overwrite").format("noop").save()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            return round(best, 3)

        res = {}
        for term, label in (("spark", "frequent"),
                            ("dup", "selective"),
                            ("batchzz", "clustered")):
            # SELECT the document, not just its id: a CONTAINS user
            # fetches rows, and materializing `text` is where the scan
            # I/O actually is (an id-only projection reads nothing but
            # the join key and would hide what pruning skips)
            q = ("SELECT doc_id, text FROM gate_docs WHERE "
                 f"array_contains(split(lower(text), '\\\\s+'), '{term}')")
            rt.disable(spark)
            res[f"{label}_stock"] = timed(q)
            rt.enable(spark)
            spark.conf.set(rt.MAX_SELECTIVITY_KEY, "1.0")  # force route
            t0 = time.perf_counter()
            plan = spark.sql(q)._jdf.queryExecution().optimizedPlan() \
                .toString()
            # first-plan cost: includes the one bounded probe-summary
            # job range pruning runs before its memo warms (honest
            # accounting for the routed lane's plan-time work)
            res[f"{label}_first_plan_s"] = round(time.perf_counter() - t0, 3)
            assert "LeftSemi" in plan, f"{term} did not route"
            if label == "clustered":
                # probe ranges pushed to the corpus scan (row-group skip)
                phys = spark.sql(q)._jdf.queryExecution().executedPlan() \
                    .toString()
                assert "GreaterThanOrEqual(doc_id" in phys, \
                    "clustered term got no pushed range filter"
            if label == "selective":
                phys = spark.sql(q)._jdf.queryExecution().executedPlan() \
                    .toString()
                assert "GreaterThanOrEqual(doc_id" not in phys, \
                    "uniform term should be coverage-gated out of ranges"
            res[f"{label}_routed"] = timed(q)
            # the DEFAULT gate picks stock for frequent, route for rare
            spark.conf.unset(rt.MAX_SELECTIVITY_KEY)
            plan = spark.sql(q)._jdf.queryExecution().optimizedPlan() \
                .toString()
            res[f"{label}_gate_routes"] = "LeftSemi" in plan
            rt.disable(spark)
        assert res["frequent_gate_routes"] is False
        assert res["selective_gate_routes"] is True
        assert res["clustered_gate_routes"] is True

        # numeric BETWEEN regime: every row group's score min/max
        # straddles the [49.5, 50.5] band (stock parquet VALUE stats
        # cannot prune — the scan decodes everything), but the band's
        # rows live in ONE contiguous id slice, so the numeric index's
        # row-id ranges skip ~95% of the row groups. This is the
        # numeric-route counterpart of the clustered CONTAINS regime.
        from deeplake_spark.operators.indexes import build_numeric_index

        nidx_path = os.path.join(WORK, f"gatenidx_x{kk}")
        build_numeric_index(d, "score", id_col="doc_id").save(nidx_path)
        rt.register_path(spark, docs_path, "score", "numeric", nidx_path,
                         "doc_id")
        nq = ("SELECT doc_id, text FROM gate_docs WHERE "
              "score BETWEEN 49.5 AND 50.5")
        ncount = "SELECT count(*) AS c FROM gate_docs WHERE " \
                 "score BETWEEN 49.5 AND 50.5"
        rt.disable(spark)
        want_n = spark.sql(ncount).head()[0]
        res["numeric_stock"] = timed(nq)
        rt.enable(spark)
        # routed lane first, forced past the floor (floor=0), so the
        # first-plan timing really measures the one-off probe-summary
        # job — at scales where the default gate routes, a preceding
        # default-conf plan would warm the range memo (its key doesn't
        # include the floor conf) and this number would be a memo hit
        # (round-10 review). The stock-vs-routed comparison is the
        # evidence the floor default is tuned against.
        spark.conf.set(rt.MIN_CORPUS_ROWS_KEY, "0")
        t0 = time.perf_counter()
        plan = spark.sql(nq)._jdf.queryExecution().optimizedPlan() \
            .toString()
        res["numeric_first_plan_s"] = round(time.perf_counter() - t0, 3)
        assert "LeftSemi" in plan, \
            "numeric BETWEEN did not route under the selectivity gate"
        phys = spark.sql(nq)._jdf.queryExecution().executedPlan() \
            .toString()
        assert "GreaterThanOrEqual(doc_id" in phys, \
            "numeric probe ranges not pushed to the corpus scan"
        assert spark.sql(ncount).head()[0] == want_n, \
            "routed numeric BETWEEN changed the row count"
        res["numeric_routed"] = timed(nq)
        spark.conf.unset(rt.MIN_CORPUS_ROWS_KEY)
        # DEFAULT-gate decision (after the timings; a memo hit here is
        # fine — only the decision matters): the corpus-size cost
        # floor (routing.minCorpusRows, default 200k) keeps small
        # corpora stock — the regime where the routed lane measurably
        # LOSES (x1: 0.14 routed vs 0.07 stock) — and routes once the
        # corpus outgrows it (x128 = 640k rows)
        plan = spark.sql(nq)._jdf.queryExecution().optimizedPlan() \
            .toString()
        res["numeric_gate_routes"] = "LeftSemi" in plan
        assert res["numeric_gate_routes"] == (5000 * kk >= 200_000), \
            "corpus floor decided wrong side at x%d" % kk
        rt.disable(spark)
        rt.clear(spark)
        out[f"x{kk}"] = res
    return out


def ann_section(spark):
    """Routed-vs-exact ANN: the same plain-SQL top-k cosine query
    through the stock exact TakeOrderedAndProject and through the IVF
    cell-pruned route. The route reads eff-nprobe of the cluster
    partitions, so its win over the full exact scan should GROW with
    corpus size; recall vs the exact top-k is asserted at both scales.

    Uses its OWN replication factors (ANN_KS), larger than the main
    table's: the sf0.1 embeddings table is only 2k rows, and below
    ~100k vectors both lanes are fixed-overhead-dominated (probe-side
    scan + join setup ≈ the whole exact scan), which measures the
    wrong regime — the regime the route exists for is the one where
    the corpus scan dominates."""
    from deeplake_spark.operators.similarity import build_ivf
    from deeplake_spark.plans import sqlrouting as rt
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # one-time MLlib warmup so the first timed fit doesn't absorb the
    # kmeans codegen/class-load cost
    _warm = (spark.range(256)
             .selectExpr("array(cast(id as double), 1.0d) AS e")
             .withColumn("__features", array_to_vector(F.col("e"))))
    KMeans(k=2, seed=1, maxIter=1, featuresCol="__features").fit(_warm)

    out = {}
    for kk in ANN_KS:
        # NON-replicated structure (round-9): each replica of a base
        # vector gets hash-pseudo-random per-element noise at amplitude
        # comparable to the inter-base distance (elements ~N(0, 0.12),
        # base L2 separation ~1.3; amp 0.15 uniform noise puts each
        # base's kk replicas in a cloud of radius ~0.7 — clouds overlap
        # and straddle IVF cell boundaries, so small probes genuinely
        # miss true neighbors instead of coasting on replicated
        # clusters that all land in one cell. Materialized to parquet:
        # the route requires the score column to be a SCAN attribute,
        # not a computed projection. Replicate via crossJoin(range(kk))
        # — one plan, not kk unioned scans.
        emb_src = os.path.join(TESTDATA, "embeddings.parquet")
        emb_path = os.path.join(WORK, f"annemb_x{kk}.parquet")
        base = spark.read.parquet(emb_src)
        reps = spark.range(kk).withColumnRenamed("id", "rep")
        (base.crossJoin(reps)
         .select(
             (F.col("vec_id") + F.col("rep") * 10_000_000)
             .alias("vec_id"),
             F.expr(
                 "transform(embedding, (x, i) -> cast(x as double) + "
                 "0.15 * (pmod(hash(vec_id, rep, i), 2001) - 1000) "
                 "/ 1000.0)")
             .alias("embedding"),
             "label")
         .repartition(max(8, kk // 16))
         .write.mode("overwrite").parquet(emb_path))
        d = spark.read.parquet(emb_path)
        idx_path = os.path.join(WORK, f"annidx_x{kk}")
        n_clusters = 64
        # build lane: k-means FIT cost under the round-8 sampled
        # protocol (count + distributed sample + fit on ~20k rows) vs
        # the naive full-corpus fit (maxIter corpus passes, input
        # cached by MLlib) that build_ivf used before round 8. The
        # corpus-wide assignment pass + partitioned index write are
        # IDENTICAL under both protocols, so they're excluded — the
        # fit is the only term the protocol changes. The sampled fit
        # is corpus-size-independent; the full fit grows with the
        # corpus AND falls off a cliff once maxIter × corpus no longer
        # fits the cache (the 100 TB regime this probe can't reach).
        feats_full = d.withColumn(
            "__features",
            array_to_vector(F.col("embedding").cast("array<double>")))
        t0 = time.perf_counter()
        n_total = feats_full.count()
        train = feats_full.sample(
            fraction=min(1.0, 1.05 * 20_000 / n_total), seed=42)
        KMeans(k=n_clusters, seed=42, maxIter=5,
               featuresCol="__features").fit(train)
        build_sampled_s = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        KMeans(k=n_clusters, seed=42, maxIter=5,
               featuresCol="__features").fit(feats_full)
        build_fullfit_s = round(time.perf_counter() - t0, 3)
        build_ivf(d, "embedding", "vec_id",
                  n_clusters=n_clusters, max_iter=5).save(idx_path)
        d.createOrReplaceTempView("ann_docs")
        qv = [float(x) for x in
              d.filter(F.col("vec_id") == 7).head().embedding]
        q = ("SELECT vec_id FROM ann_docs ORDER BY "
             f"{rt.cosine_sql('embedding', qv)} DESC LIMIT 10")

        def timed(n=2):
            best = None
            for _ in range(n):
                t0 = time.perf_counter()
                spark.sql(q).write.mode("overwrite").format("noop").save()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            return round(best, 3)

        # recall evidence: 8 query points, exact top-10 each, then the
        # routed answer under each accuracy preset. On the hash-noise
        # structure the presets must separate — fast meaningfully
        # below 1.0 and rising with the preset (monotone), which the
        # replicated-data probe could never show (recall pinned at 1).
        qids = [1, 3, 7, 11, 19, 23, 31, 47]
        qvecs = {r.vec_id: [float(x) for x in r.embedding]
                 for r in d.filter(F.col("vec_id").isin(qids)).collect()}

        def topk_sql(qv2):
            return ("SELECT vec_id FROM ann_docs ORDER BY "
                    f"{rt.cosine_sql('embedding', qv2)} DESC LIMIT 10")

        rt.disable(spark)
        exact_sets = {qid: {r.vec_id for r in
                            spark.sql(topk_sql(qv2)).collect()}
                      for qid, qv2 in qvecs.items()}
        exact_s = timed()
        rt.register_path(spark, emb_path, "embedding", "clustered",
                         idx_path, "vec_id")
        rt.enable(spark)
        af_key = "spark.sql.deeplake.routing.ann.accuracyFactor"
        np_key = "spark.sql.deeplake.routing.ann.nprobe"
        # timing lane: af=4 → eff-nprobe = max(4, 64*4/20) ≈ 20% of 64
        spark.conf.set(af_key, "4")
        plan = spark.sql(q)._jdf.queryExecution().optimizedPlan() \
            .toString()
        assert "cluster#" in plan, "ANN route did not engage"
        routed_s = timed()
        # presets mirror SearchConfig.fast/balanced/high_accuracy
        # (af, nprobe); af4 is the timing lane's operating point
        presets = {"fast": (1, 1), "balanced": (5, 2), "af4": (4, 4),
                   "high_accuracy": (20, 8)}
        recalls = {}
        for pname, (af, nprobe) in presets.items():
            spark.conf.set(af_key, str(af))
            spark.conf.set(np_key, str(nprobe))
            vals = []
            for qid, qv2 in qvecs.items():
                got = {r.vec_id for r in
                       spark.sql(topk_sql(qv2)).collect()}
                vals.append(len(got & exact_sets[qid]) / 10)
            recalls[pname] = round(sum(vals) / len(vals), 3)
        assert recalls["fast"] <= recalls["balanced"] \
            <= recalls["high_accuracy"], f"x{kk} not monotone {recalls}"
        assert recalls["fast"] < 0.95, \
            f"x{kk} fixture too easy: fast recall {recalls['fast']}"
        assert recalls["high_accuracy"] >= 0.9, f"x{kk} {recalls}"
        assert recalls["af4"] >= 0.5, f"x{kk} {recalls}"
        # maxK gate edge (round 10): IVF recall@k DECAYS with k on a
        # fixed-fraction probe (rank-k true neighbors spread across
        # more cells as k grows — measured decay at x64/af4:
        # 0.925@10 → 0.858@100 → 0.637@1000), so a flat absolute
        # ceiling is not recall-safe on small corpora. The rule's
        # CORPUS-RELATIVE ceiling (ann.maxKFrac, default 0.1% of the
        # persisted corpus size) is set where recall still tracks the
        # small-k presets. Pin the boundary: at the effective ceiling
        # k = frac·n the route still engages and MEAN recall@k over
        # the 8 query points (af4 lane) holds ≥ 0.7 — the fast
        # preset's measured floor, i.e. no worse than the cheapest
        # preset a user can opt into at k=10; at k = ceiling + 1 the
        # plan is stock exact (recall trivially 1.0).
        n_corpus = d.count()
        edge_k = max(1, int(0.001 * n_corpus))
        spark.conf.set(af_key, "4")
        spark.conf.set(np_key, "4")

        def topk_sql_k(qv2, k):
            return ("SELECT vec_id FROM ann_docs ORDER BY "
                    f"{rt.cosine_sql('embedding', qv2)} DESC LIMIT {k}")

        rt.disable(spark)
        exact_edge = {qid: {r.vec_id for r in
                            spark.sql(topk_sql_k(qv2, edge_k)).collect()}
                      for qid, qv2 in qvecs.items()}
        rt.enable(spark)
        vals = []
        for qid, qv2 in qvecs.items():
            at_df = spark.sql(topk_sql_k(qv2, edge_k))
            assert "cluster#" in at_df._jdf.queryExecution() \
                .optimizedPlan().toString(), \
                "route must engage at the relative ceiling"
            got_edge = {r.vec_id for r in at_df.collect()}
            vals.append(len(got_edge & exact_edge[qid]) / edge_k)
        edge_recall = round(sum(vals) / len(vals), 3)
        # the bar is the FAST preset's floor (~0.7 measured): at the
        # ceiling the route may be no worse than the cheapest preset a
        # user can opt into at k=10; past it the plan is stock exact
        assert edge_recall >= 0.7, \
            f"x{kk} decline boundary not recall-safe: " \
            f"recall@{edge_k}={edge_recall} < 0.7 (fast floor)"
        over_plan = spark.sql(
            topk_sql_k(next(iter(qvecs.values())), edge_k + 1)) \
            ._jdf.queryExecution().optimizedPlan().toString()
        assert "cluster#" not in over_plan, \
            "route must decline past frac*n (stock exact plan)"
        spark.conf.unset(af_key)
        spark.conf.unset(np_key)
        rt.disable(spark)
        rt.clear(spark)
        out[f"x{kk}"] = {"exact_s": exact_s, "routed_s": routed_s,
                         "recall_at_10": recalls["af4"],
                         "recall_fast": recalls["fast"],
                         "recall_balanced": recalls["balanced"],
                         "recall_high_accuracy": recalls["high_accuracy"],
                         "speedup": round(exact_s / routed_s, 2)
                         if routed_s else None,
                         "maxk_edge_k": edge_k,
                         "maxk_edge_recall": edge_recall,
                         "maxk_over_declines": True,
                         "build_sampled_s": build_sampled_s,
                         "build_fullfit_s": build_fullfit_s}
    return out


def _noised_embeddings(spark, kk: int) -> str:
    """kk-fold replica of the embeddings table with hash-pseudo-random
    per-element noise (the ANN section's protocol) — shared by the
    semdedup and knn ladders; same path per kk, so sections reuse it."""
    emb_src = os.path.join(TESTDATA, "embeddings.parquet")
    path = os.path.join(WORK, f"sdemb_x{kk}.parquet")
    base = spark.read.parquet(emb_src)
    reps = spark.range(kk).withColumnRenamed("id", "rep")
    (base.crossJoin(reps)
     .select(
         (F.col("vec_id") + F.col("rep") * 10_000_000).alias("vec_id"),
         F.expr(
             "transform(embedding, (x, i) -> cast(x as double) + "
             "0.15 * (pmod(hash(vec_id, rep, i), 2001) - 1000) "
             "/ 1000.0)").alias("embedding"))
     .repartition(max(8, kk // 8))
     .write.mode("overwrite").parquet(path))
    return path


def _saved_ivf(spark, asg, cents, name: str):
    """The hash-assigned IVF index (`asg` carries `cluster`) saved under
    WORK/name and loaded back — probes take saved indexes only."""
    from deeplake_spark.operators.indexes import INDEX_KINDS
    from deeplake_spark.operators.similarity import IVFIndex

    spec, path = INDEX_KINDS["clustered"], os.path.join(WORK, name)
    spec.save(IVFIndex(assignments=asg, centroids=cents,
                       vec_col="embedding", id_col="vec_id"), path)
    return spec.load(spark, path)


def knn_section(spark):
    """knn_label_propagation IVF-lane ladder (round-12 VERDICT #5):
    the registered v25 query is the EXACT oracle arm — broadcast NLJ,
    O(labeled x unlabeled) by design — while the scale lane routes the
    whole query set through an IVF index over the LABELED corpus in
    one pruned pass. Ladder: labeled corpus x1/x8/x64 (noised
    replicas, hash-assigned corpus-proportional clusters at ~100
    rows/cluster — the semdedup protocol, so x64 runs >=1k clusters),
    FIXED base-size unlabeled query set. Per-query candidate work is
    eff_nprobe x cluster_size (both bounded), so wall time should stay
    far below the corpus factor K — the ratio << K that makes this the
    100 TB lane.

    The probe budget is FIXED (nprobe=8, accuracy_factor=0 — the accuracy
    term itself widens eff_nprobe by ceil(nlist/20), i.e. linearly in
    the corpus) across the
    ladder: the default preset's accuracy_factor=10 widens eff_nprobe
    to n_clusters/2 — HALF the index probed per query, which turned the
    round-13 first-cut x64 arm into ~125M interpreted HOF cosines.
    Fixed nprobe as nlist grows is how IVF runs at scale; the preset
    widening is a RECALL knob for small indexes, not a scale default."""
    from deeplake_spark.operators.similarity import (
        SearchConfig, knn_label_propagation)

    base = spark.read.parquet(os.path.join(TESTDATA, "embeddings.parquet"))
    base_n = base.count()
    queries = base.select(
        (F.col("vec_id") + F.lit(900_000_000)).alias("vec_id"),
        F.expr("transform(embedding, x -> cast(x as double))")
        .alias("embedding"),
        F.lit(None).cast("string").alias("label"))
    out = {"labeled_base_rows": base_n, "query_rows": base_n,
           "cluster_rows_target": 100}
    for kk in (1, 8, 64):
        path = _noised_embeddings(spark, kk)
        rep = spark.read.parquet(path)
        lab = rep.select(
            "vec_id", "embedding",
            F.pmod(F.hash("vec_id"), F.lit(20)).cast("string")
            .alias("label"))
        df = lab.unionByName(queries)
        nlist = max(4, (base_n * kk) // 100)
        cents = [(i, [float(v) for v in r[0]]) for i, r in enumerate(
            rep.orderBy("vec_id").select("embedding")
            .limit(nlist).collect())]
        asg = rep.withColumn(
            "cluster", F.pmod(F.hash("vec_id"), F.lit(nlist)).cast("int"))
        idx = _saved_ivf(spark, asg, cents, f"knn_ivf_x{kk}")
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            (knn_label_propagation(
                df, index=idx, k=5,
                config=SearchConfig(accuracy_factor=0, nprobe=8))
             .write.mode("overwrite").format("noop").save())
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        out[f"t_x{kk}"] = round(best, 3)
        out[f"nlist_x{kk}"] = nlist
    return out


def hnm_section(spark):
    """hard_negative_mining IVF-lane ladder (round-13 VERDICT task 3):
    the registered v27 query is the EXACT oracle arm — broadcast
    queries x corpus, O(corpus x queries) by design — while the scale
    lane routes the query set through an IVF index over the labeled
    corpus with a 4x over-fetch absorbing the label filter's discards.
    Knn-ladder protocol: labeled corpus x1/x8/x64 (noised replicas,
    hash-assigned corpus-proportional clusters at ~100 rows/cluster),
    FIXED base-size query set, FIXED probe budget (nprobe=8,
    accuracy_factor=0 — the preset widening is a recall knob, not a
    scale default). Per-query candidate work is eff_nprobe x
    cluster_size x over-fetch (all bounded), so wall time should stay
    far below the corpus factor K."""
    from deeplake_spark.operators.similarity import (
        SearchConfig, hard_negative_mining)

    base = spark.read.parquet(os.path.join(TESTDATA, "embeddings.parquet"))
    base_n = base.count()
    queries = base.select(
        (F.col("vec_id") + F.lit(900_000_000)).alias("qid"),
        F.expr("transform(embedding, x -> cast(x as double))").alias("qv"),
        F.pmod(F.hash("vec_id"), F.lit(20)).cast("string").alias("qlabel"))
    out = {"corpus_base_rows": base_n, "query_rows": base_n,
           "cluster_rows_target": 100, "overfetch": 4}
    for kk in (1, 8, 64):
        path = _noised_embeddings(spark, kk)
        rep = spark.read.parquet(path)
        corpus = rep.select(
            "vec_id", "embedding",
            F.pmod(F.hash("vec_id"), F.lit(20)).cast("string")
            .alias("label"))
        nlist = max(4, (base_n * kk) // 100)
        cents = [(i, [float(v) for v in r[0]]) for i, r in enumerate(
            rep.orderBy("vec_id").select("embedding")
            .limit(nlist).collect())]
        asg = corpus.withColumn(
            "cluster", F.pmod(F.hash("vec_id"), F.lit(nlist)).cast("int"))
        idx = _saved_ivf(spark, asg, cents, f"hnm_ivf_x{kk}")
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            (hard_negative_mining(
                corpus, queries, index=idx, k=5,
                config=SearchConfig(accuracy_factor=0, nprobe=8))
             .write.mode("overwrite").format("noop").save())
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        out[f"t_x{kk}"] = round(best, 3)
        out[f"nlist_x{kk}"] = nlist
    return out


def t50_section(spark):
    """t50 keep-first skew A/B (round-14 VERDICT tasks 1+4): the
    effective-token lane over a corpus where ONE document text is
    corpus-hot (20% of docs share the identical string — the duplicate
    document dedup accounting exists to find). Two arms, identical
    output (asserted):

    - window arm: the PRE-fix shape — keep-first as a
      digest-PARTITIONED window. The hot digest group funnels through
      ONE window task; AQE cannot split a window partition.
    - aggregate arm: the shipped t50 — digest-keyed min AGGREGATE +
      join back (the dedup_corpus_lines convention): map-side partials
      absorb the hot digest; the join back skew-splits under AQE.

    Protocol: x1/x8/x32 replicated documents (shifted ids, replica-
    suffixed tokens), then 20% of texts overwritten with one constant
    multi-sentence string; inputs arrive from many mappers (trap 17 —
    replicate() writes 4k files). The skew-join thresholds are lowered
    k-proportionally exactly like skew_section so the aggregate arm's
    join back splits as it would at stock thresholds on 100 TB
    partitions."""
    from pyspark.sql.window import Window

    from deeplake_spark.functions.text import token_count
    from deeplake_spark.io import ensure_parallelism
    from deeplake_spark.queries import load_all

    reg = load_all()
    hot_text = ("This boilerplate legal disclaimer is appended to every "
                "crawled page by the template engine. " * 4)

    def agg_out(kept, d):
        return (d.groupBy("source")
                .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                     F.sum("__nt").cast("long").alias("n_tokens"),
                     kept.cast("long").alias("kept_tokens"),
                     F.round(F.lit(1.0) - kept.cast("double")
                             / F.nullif(F.sum("__nt").cast("double"),
                                        F.lit(0.0)), 6)
                     .alias("dup_token_ratio"))
                .orderBy("source"))

    def digested(docs):
        docs = ensure_parallelism(docs)
        return docs.select(
            "source", "doc_id",
            token_count(F.col("text")).cast("long").alias("__nt"),
            F.md5(F.lower(F.col("text"))).alias("__h"))

    def window_arm(docs):
        d = digested(docs)
        w = Window.partitionBy("__h")
        marked = d.withColumn(
            "__keep", F.col("doc_id") == F.min("doc_id").over(w))
        kept = F.sum(F.when(F.col("__keep"), F.col("__nt"))
                     .otherwise(F.lit(0)))
        return agg_out(kept, marked)

    def timed(fn, n=2):
        best = None
        for _ in range(n):
            t0 = time.perf_counter()
            fn().write.mode("overwrite").format("noop").save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        return round(best, 3)

    out = {"hot_frac": 0.2, "rows": []}
    for kk in (1, 8, 32):
        src = os.path.join(WORK, f"t50x{kk}")
        replicate(spark, "documents", kk, src)
        hot_dir = os.path.join(WORK, f"t50hot{kk}")
        (spark.read.parquet(os.path.join(src, "documents.parquet"))
         .withColumn("text",
                     F.when(F.pmod(F.hash("doc_id"), F.lit(5)) == 0,
                            F.lit(hot_text)).otherwise(F.col("text")))
         .repartition(max(4, 4 * kk))
         .write.mode("overwrite")
         .parquet(os.path.join(hot_dir, "documents.parquet")))
        mb = max(1, 4 * kk // 8)
        confs = {
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
                f"{mb}m",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": f"{mb}m",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        }
        saved = {c: spark.conf.get(c, None) for c in confs}
        try:
            for c, v in confs.items():
                spark.conf.set(c, v)
            docs = spark.read.parquet(
                os.path.join(hot_dir, "documents.parquet"))
            agg_fn = reg["t50_effective_tokens"].fn
            row = {"k": kk,
                   "window_s": timed(lambda: window_arm(docs)),
                   "aggregate_s": timed(lambda: agg_fn(spark, hot_dir))}
            a = sorted(map(tuple, window_arm(docs).collect()))
            b = sorted(map(tuple, agg_fn(spark, hot_dir).collect()))
            assert a == b, "t50 A/B arms disagree"
            out["rows"].append(row)
        finally:
            for c, v in saved.items():
                (spark.conf.unset(c) if v is None
                 else spark.conf.set(c, v))
    return out


def balance_section(spark):
    """class_balance two-stage A/B (r15 review): a class-balanced
    sample of `target` rows per label over a label-SKEWED corpus
    (90% majority / 9% mid / 1% rare — the classifier-training-prep
    reality). Two arms, identical kept set (asserted):

    - window arm: the PRE-fix shape — one row_number window
      partitioned by label. The majority label (90% of the corpus)
      funnels through ONE window task; AQE cannot split a window
      partition.
    - two-stage arm: the shipped class_balance (cap_per_group shape)
      — per-(label, hash-bucket) local top-k prunes every label to
      <= 32*target rows BEFORE the per-label rank, so no task ever
      holds more than max(partition, 32*target) rows regardless of
      label skew.

    Protocol: x1/x8/x32 replicated documents (many input files —
    trap 17), label derived from hash(doc_id). The window arm's hot
    task grows linearly with the corpus; the two-stage arm's stage-2
    input is capped at 32*target per label, so its growth is the
    SCAN, not the rank."""
    from pyspark.sql.window import Window

    from deeplake_spark.operators.sampling import (
        class_balance, md5_uniform)

    target = 2000

    def labeled(dir_):
        docs = spark.read.parquet(os.path.join(dir_, "documents.parquet"))
        h = F.pmod(F.hash("doc_id"), F.lit(100))
        return docs.select(
            "doc_id",
            F.when(h < 90, F.lit("majority"))
            .when(h < 99, F.lit("mid"))
            .otherwise(F.lit("rare")).alias("label"))

    def window_arm(d):
        w = Window.partitionBy("label").orderBy("__u", "doc_id")
        return (d.withColumn("__u", md5_uniform("doc_id", "balance"))
                .withColumn("__rk", F.row_number().over(w))
                .filter(F.col("__rk") <= target)
                .drop("__u", "__rk"))

    def timed(fn, n=2):
        best = None
        for _ in range(n):
            t0 = time.perf_counter()
            fn().write.mode("overwrite").format("noop").save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        return round(best, 3)

    out = {"target": target, "label_mix": "90/9/1", "rows": []}
    for kk in (1, 8, 32):
        src = os.path.join(WORK, f"balx{kk}")
        replicate(spark, "documents", kk, src)
        d = labeled(src)
        row = {"k": kk,
               "window_s": timed(lambda: window_arm(d)),
               "twostage_s": timed(
                   lambda: class_balance(d, "label", target=target))}
        a = sorted(r.doc_id for r in window_arm(d).collect())
        b = sorted(r.doc_id for r in
                   class_balance(d, "label", target=target).collect())
        assert a == b, "class_balance A/B arms disagree"
        out["rows"].append(row)
    return out


def v30_section(spark):
    """Filtered-ANN widening cost curve (round-14 VERDICT task 4,
    v30's index arm): ivf_search(candidates=, candidate_selectivity=s)
    widens eff-nprobe by 1/s so filtered recall holds — this ladder
    measures what the widening COSTS as the filter narrows. Corpus =
    x8 noised embeddings, corpus-proportional hash clusters (~100
    rows/cell, the knn/hnm protocol); candidates keep fraction s via
    a hash predicate at s = 0.5 / 0.1 / 0.02 (plus the unfiltered
    reference and an UNWIDENED 0.02 arm — the recall-losing spelling a
    naive caller would write). x64 (128k rows): big enough that the
    probed-cell scan dominates the fixed job setup. Reported per arm:
    eff_nprobe, wall s.
    Expected: probes scale ~1/s until the n_clusters cap, so cost
    grows as the filter narrows but stays a pruned scan; at s=0.02
    with the cap hit, the probe is ~the full corpus pass (the honest
    ceiling — same as the reference's full-index roaring prefilter)."""
    from deeplake_spark.operators.similarity import (
        SearchConfig, _widened_nprobe, ivf_search)

    kk = 64
    path = _noised_embeddings(spark, kk)
    rep = spark.read.parquet(path)
    n = rep.count()
    nlist = max(4, n // 100)
    cents = [(i, [float(v) for v in r[0]]) for i, r in enumerate(
        rep.orderBy("vec_id").select("embedding").limit(nlist).collect())]
    asg = rep.select("vec_id", "embedding").withColumn(
        "cluster", F.pmod(F.hash("vec_id"), F.lit(nlist)).cast("int"))
    idx = _saved_ivf(spark, asg, cents, "v30_ivf")
    qv = [float(v) for v in rep.filter(F.col("vec_id") == 0)
          .head()["embedding"]]
    cfg = SearchConfig(accuracy_factor=0, nprobe=8)

    def timed(fn, n_runs=2):
        best = None
        for _ in range(n_runs):
            t0 = time.perf_counter()
            fn().write.mode("overwrite").format("noop").save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        return round(best, 3)

    def cand(s: float):
        mod = int(round(1.0 / s))
        return rep.filter(F.pmod(F.hash("vec_id"), F.lit(mod)) == 0) \
            .select("vec_id")

    rows = [{"arm": "unfiltered", "eff_nprobe": 8,
             "sec": timed(lambda: ivf_search(idx, qv, k=10, config=cfg))}]
    for s in (0.5, 0.1, 0.02):
        rows.append({
            "arm": f"s={s}",
            "eff_nprobe": _widened_nprobe(nlist, cfg, s),
            "sec": timed(lambda: ivf_search(
                idx, qv, k=10, config=cfg, candidates=cand(s),
                candidate_selectivity=s))})
    rows.append({
        "arm": "s=0.02 UNWIDENED", "eff_nprobe": 8,
        "sec": timed(lambda: ivf_search(
            idx, qv, k=10, config=cfg, candidates=cand(0.02)))})
    return {"corpus_rows": n, "nlist": nlist, "rows": rows}


def semdedup_section(spark):
    """SemDeDup cost model: pair work is O(sum cluster_size^2), so the
    operator scales LINEARLY only when the cluster count grows with the
    corpus (constant cluster size — the paper runs 50k clusters on
    LAION-440M for exactly this reason). Measures the indexed lane's
    pruning machinery at x1/x8/x64 with corpus-proportional cluster
    counts (~100 rows/cluster; expect ~K, linear), and the FIXED-k trap
    arm at x8 with the x1 cluster count (cluster size 8x -> ~8x pair
    work per row on 8x rows: expect ~K^2-ish growth).

    Clusters are hash-assigned (uniform, constant size by construction)
    so the probe isolates the pair/prune machinery from the k-means fit
    — fit cost scaling is the IVF-build section's own measurement.
    Real skewed clusters split under AQE skew-join (skew section).
    Replicas carry hash-pseudo-random per-element noise (the ANN
    section's protocol), so >=tau pairs stay rare and the timing
    measures pair evaluation, not a planted-duplicate pathology."""
    from deeplake_spark.operators.similarity import (
        IVFIndex, semantic_dedup_indexed)

    build = lambda kk: _noised_embeddings(spark, kk)  # noqa: E731

    def timed(path: str, nlist: int, n=2):
        d = spark.read.parquet(path)
        cents = [(i, [float(v) for v in r[0]]) for i, r in enumerate(
            d.orderBy("vec_id").select("embedding").limit(nlist).collect())]
        asg = d.withColumn("cluster",
                           F.pmod(F.hash("vec_id"), F.lit(nlist)).cast("int"))
        idx = IVFIndex(assignments=asg, centroids=cents,
                       vec_col="embedding", id_col="vec_id")
        best = None
        for _ in range(n):
            t0 = time.perf_counter()
            (semantic_dedup_indexed(idx, tau=0.95)
             .write.mode("overwrite").format("noop").save())
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        return round(best, 3)

    base_n = spark.read.parquet(
        os.path.join(TESTDATA, "embeddings.parquet")).count()
    out = {"base_rows": base_n, "cluster_rows_target": 100}
    paths = {kk: build(kk) for kk in (1, 8, 64)}
    for kk in (1, 8, 64):
        nlist = max(4, (base_n * kk) // 100)
        out[f"t_x{kk}_scaledk"] = timed(paths[kk], nlist)
        out[f"nlist_x{kk}"] = nlist
    # fixed-k trap: x8 corpus with the x1 cluster count
    out["t_x8_fixedk"] = timed(paths[8], max(4, base_n // 100))

    # v24 literal lane (the registered, oracle-checked query): k=8
    # clusters FIXED by design, so replication grows cluster size —
    # this arm measures the fixed-k anti-pattern on the real query at
    # x1/x8 over the same noised replicas (written as
    # <dir>/embeddings.parquet for the query's load_table). x32+
    # declined on purpose: it would spend minutes re-measuring the
    # K^2 conclusion above; the scaling lane for semantic dedup is
    # semantic_dedup_indexed with corpus-proportional clusters.
    from deeplake_spark.queries import load_all

    v24 = load_all()["v24_semantic_dedup"].fn
    for kk in (1, 8):
        d = os.path.join(WORK, f"v24_x{kk}")
        (spark.read.parquet(paths[kk]).write.mode("overwrite")
         .parquet(os.path.join(d, "embeddings.parquet")))
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            v24(spark, d).write.mode("overwrite").format("noop").save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        out[f"v24_literal_x{kk}"] = round(best, 3)
    return out


def _heap_gb(spec: str) -> float | None:
    """'48g' / '8192m' / '2gb' / '8192' → GiB; None when unparseable
    (the guard then skips rather than exiting spuriously). A bare
    number is MiB — that's how Spark reads a suffixless
    spark.driver.memory."""
    s = spec.strip().lower().removesuffix("b")
    mult = {"k": 1 / (1 << 20), "m": 1 / 1024, "g": 1.0, "t": 1024.0}
    try:
        if s and s[-1] in mult:
            return float(s[:-1]) * mult[s[-1]]
        return float(s) / 1024    # bare number = MiB (Spark semantics)
    except ValueError:
        return None


def _require_heap(max_k: int) -> None:
    """Fail fast (exit 2) when the probe scale needs more driver heap
    than SPARK_DRIVER_MEMORY / an already-running session provides —
    an undersized heap doesn't crash, it GC-thrashes and silently
    inflates every number (round-8 lesson, SCALING.md x128 note)."""
    need = 48 if max_k >= 64 else 8
    active = SparkSession.getActiveSession()
    if active is not None:
        have = active.conf.get("spark.driver.memory", "1g")
        got = _heap_gb(have)
        if got is not None and got < need:
            sys.exit(
                f"scale_probe: x{max_k} needs >= {need}g driver heap but "
                f"an active session has spark.driver.memory={have}; stop "
                "it (or run the probe in a fresh process) — an "
                "undersized heap GC-thrashes and inflates every timing.")
        return
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    got = None if env is None else _heap_gb(env)
    if env is None:
        os.environ["SPARK_DRIVER_MEMORY"] = f"{need}g"
    elif got is not None and got < need:
        sys.exit(
            f"scale_probe: x{max_k} needs >= {need}g driver heap but "
            f"SPARK_DRIVER_MEMORY={env}; raise it or drop the scale — "
            "an undersized heap GC-thrashes and inflates every timing.")


def main() -> None:
    ks = [int(a) for a in sys.argv[1:] if a.isdigit()] or [8]
    # --sections ops,skew,gate,ann — iterate on one section without
    # paying for the others (the full MD rewrite needs all four)
    sections = {"ops", "skew", "gate", "ann"}
    # semdedup runs only on request (--sections semdedup): its corpus
    # replication is independent of the main K ladder
    if "--sections" in sys.argv:
        sections = set(
            sys.argv[sys.argv.index("--sections") + 1].split(","))
    # --only name1,name2 — restrict the ops roster to specific probes
    # (targeted ladder for a new query without re-running the suite)
    only = None
    if "--only" in sys.argv:
        only = set(sys.argv[sys.argv.index("--only") + 1].split(","))
    # K-fold replicas of sf0.1 run 32 concurrent tasks in ONE local
    # JVM — the 8g session default (sized for the sf0.1 bench) GC-
    # thrashes past ~x64 (the round-8 x128 probe inflated q01 1.5x
    # per-row before the heap was raised), but requesting 48g
    # unconditionally would OOM smaller hosts on the routine x8 probe.
    # A real cluster holds this in executor heaps. FAIL FAST when the
    # requested scale exceeds the configured heap instead of silently
    # publishing GC-thrash-inflated numbers.
    _require_heap(max(ks))
    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    from deeplake_spark.queries import load_all

    reg = load_all()
    fns = probes(reg)
    if only is not None:
        fns = [(n, f) for n, f in fns if n in only]

    shutil.rmtree(WORK, ignore_errors=True)
    rows = []
    skew = gate = ann = None
    k = max(ks)
    if "ops" in sections or "skew" in sections:
        base_dir = os.path.join(WORK, "x1")
        for t in TABLES:
            replicate(spark, t, 1, base_dir)
        if "ops" in sections:
            warm = run(spark, fns, base_dir, n=1)  # compile once
            t1 = run(spark, fns, base_dir)
            del warm
        tk: dict[int, dict[str, float]] = {}
        for kk in ks:
            big_dir = os.path.join(WORK, f"x{kk}")
            for t in TABLES:
                replicate(spark, t, kk, big_dir)
            if "ops" in sections:
                tk[kk] = run(spark, fns, big_dir)
        if "ops" in sections:
            for name, _ in fns:
                r = {"op": name, "t_1x": t1[name]}
                for kk in ks:
                    r[f"t_{kk}x"] = tk[kk][name]
                    r[f"ratio_{kk}"] = (round(tk[kk][name] / t1[name], 2)
                                        if t1[name] > 0 else None)
                rows.append(r)
        if "skew" in sections:     # skew runs at the largest scale
            skew = skew_section(spark, os.path.join(WORK, f"x{k}"), k)
    if "gate" in sections:
        gate = gate_section(spark, k)
    if "ann" in sections:
        ann = ann_section(spark)
    semdedup = semdedup_section(spark) if "semdedup" in sections else None
    knn = knn_section(spark) if "knn" in sections else None
    hnm = hnm_section(spark) if "hnm" in sections else None
    t50skew = t50_section(spark) if "t50skew" in sections else None
    v30sel = v30_section(spark) if "v30sel" in sections else None
    balance = balance_section(spark) if "balance" in sections else None
    print(json.dumps({"ks": ks, "rows": rows, "skew": skew,
                      "gate": gate, "ann": ann, "semdedup": semdedup,
                      "knn": knn, "hnm": hnm, "t50skew": t50skew,
                      "v30sel": v30sel, "balance": balance},
                     indent=1))

    out_md = None
    if "--out" in sys.argv:
        out_md = sys.argv[sys.argv.index("--out") + 1]
    if out_md and sections != {"ops", "skew", "gate", "ann"}:
        print("--out needs all sections; skipping MD rewrite")
        out_md = None
    if out_md:
        # SCALING.md also carries HAND-MAINTAINED sections this writer
        # doesn't generate (the x128 heaviest-shapes third point) —
        # re-add them after a full rewrite, or splice the regenerated
        # tables into the existing file instead of committing the
        # rewrite wholesale.
        print("NOTE: --out rewrites the whole file; hand-maintained "
              "sections (x128 third point) must be re-added.")
    if out_md:
        kdesc = "/".join(str(k) for k in ks)
        lines = [
            "# SCALING — measured operator scaling (tools/scale_probe.py)",
            "",
            f"sf0.1 tables replicated {kdesc}x with shifted keys "
            "(cardinalities scale, no artificial duplicate blowup), written "
            "as multi-file parquet; best-of-2 warm timings. "
            "ratio ~= time(Kx)/time(1x): linear operators stay at or below "
            "K (fixed per-job costs amortize); a ratio well above K would "
            "flag a superlinear shape. With two K points the between-point "
            "growth is the sharper test: ratio_32 >> 4 * ratio_8 (time "
            "growing faster than data between 8x and 32x) is the red "
            "flag; ratio_32 ≈ 4 * ratio_8 is fully-saturated LINEAR "
            "scaling (expected once the fixed core count is busy); below "
            "4x means fixed costs still amortizing.",
            "",
            "| operator | t(1x) s | "
            + " | ".join(f"t({k}x) s | ratio_{k}" for k in ks) + " |",
            "|---|---|" + "---|---|" * len(ks),
        ]
        for r in rows:
            cells = " | ".join(
                f"{r[f't_{k}x']} | {r[f'ratio_{k}']}" for k in ks)
            lines.append(f"| {r['op']} | {r['t_1x']} | {cells} |")
        lines += [
            "",
            "## Skew (planted hot key)",
            "",
            f"q18-shape join+agg at {k}x with ONE orderkey owning "
            f"~{int(skew['hot_frac'] * 100)}% of lineitem rows (broadcast "
            "disabled so all variants are the sort-merge family AQE "
            "skew-split applies to). `aqe_split` lowers the skew "
            "thresholds to the probe's scale — the same split a 100 TB "
            "run gets at stock thresholds; `salted` is the explicit "
            "plans/layout.salted_join lever — it pays a constant "
            "replication factor on the other side, so it only wins when "
            "the hot reducer dominates wall-clock (true at 100 TB; at "
            "probe scale the replication cost shows instead). All "
            "variants return identical rows (asserted in the probe).",
            "",
            "| variant | sec |",
            "|---|---|",
        ]
        for r in skew["rows"]:
            lines.append(f"| {r['variant']} | {r['sec']} |")
        lines += [
            "",
            "## Selectivity gate + probe→row-group pruning (CONTAINS)",
            "",
            "Gate corpus: dense re-id'd replicas, text inflated 8x to "
            "KB-scale documents (token SET per doc unchanged, so term "
            "selectivities and index size are unaffected), written "
            "ID-SORTED with ~8 MB row groups (the ingest layout); the "
            "query fetches `doc_id, text` (a CONTAINS user reads "
            "documents — an id-only projection reads nothing but the "
            "join key and hides what pruning skips). Three regimes: "
            "'spark' (frequent, ~77% of docs), 'dup' (selective ~5%, "
            "uniformly spread), 'batchzz' (selective 5% in ONE "
            "contiguous id slice — a crawl batch). `stock` = pushed-down "
            "scan filter; `routed` = the posting semijoin forced with "
            "maxSelectivity=1.0 — which since round 9 also pushes the "
            "probe's row-id ranges onto the corpus scan as literal "
            "BETWEEN filters (parquet min/max row-group skip, the "
            "reference's roaring-bitmap chunk reads, icm/roaring.hpp). "
            "The probe asserts: the default gate refuses the frequent "
            "term and routes both selective ones; the clustered term's "
            "plan carries the pushed range filter; the uniform term's "
            "ranges are coverage-gated out (they span the corpus — "
            "nothing to skip). Routed timings are steady-state (range "
            "memo warm); `first plan` is the one-off bounded "
            "probe-summary job. Readings: the SELECTIVE routed lanes "
            "beat stock once the corpus outgrows fixed job costs, and "
            "clustered beats uniform by the pruned corpus decode. The "
            "frequent term's routed lane also wins at the largest probe "
            "scale — its saving is the skipped per-row tokenize, CPU "
            "that grows with corpus — but its probe side is 0.77·N row "
            "ids, which stops being broadcastable (and becomes a "
            "corpus-size shuffle join) at 100 TB; the default gate "
            "keeps it stock for exactly that regime, the one this "
            "probe cannot reach.",
            "",
            "| scale | frequent stock s | frequent routed s | "
            "selective stock s | selective routed s | "
            "clustered stock s | clustered routed s | "
            "clustered first plan s |",
            "|---|---|---|---|---|---|---|---|",
        ]
        for kk, r in gate.items():
            lines.append(
                f"| {kk} | {r['frequent_stock']} | {r['frequent_routed']}"
                f" | {r['selective_stock']} | {r['selective_routed']}"
                f" | {r['clustered_stock']} | {r['clustered_routed']}"
                f" | {r['clustered_first_plan_s']} |")
        lines += [
            "",
            "## Numeric BETWEEN route: value stats can't prune, "
            "row-id ranges can",
            "",
            "Same corpus, `score BETWEEN 49.5 AND 50.5` fetching "
            "`doc_id, text`. Every doc outside one contiguous 5% id "
            "slice scores in [0, 48.9] ∪ [51, 99.9] (deterministic "
            "oscillation), the slice scores inside the band — so every "
            "row group's score min/max straddles the band and the "
            "STOCK scan's pushed-down BETWEEN prunes nothing (it "
            "decodes the full corpus), while the routed lane's "
            "index-probe row-id ranges skip ~95% of the row groups. "
            "The realistic shape: quality scores cluster per crawl "
            "batch, layout is id-ordered, not value-ordered. `default "
            "gate` is the plan the DEFAULT confs pick (round 10): the "
            "corpus-size cost floor (routing.minCorpusRows, 200k rows "
            "— the scan-cost term of the reference's pg_costestimate, "
            "index_search.cpp:247-420) keeps small corpora stock, "
            "exactly the regime where the round-9 numbers showed the "
            "route LOSING (x1: 2x); the selectivity gate (histogram "
            "estimate ~6%) still decides once past the floor. Routed "
            "timings force floor=0; the plan is asserted to carry the "
            "pushed range filter, and the probe asserts the default "
            "gate's decision flips exactly at the floor (stock below "
            "200k rows, routed at x128 = 640k).",
            "",
            "| scale | stock s | routed s | first plan s | "
            "default gate |",
            "|---|---|---|---|---|",
        ]
        for kk, r in gate.items():
            pick = "routed" if r.get("numeric_gate_routes") else "stock"
            lines.append(
                f"| {kk} | {r['numeric_stock']} | {r['numeric_routed']}"
                f" | {r['numeric_first_plan_s']} | {pick} |")
        lines += [
            "",
            "## ANN: routed (IVF cell prune) vs exact top-k",
            "",
            "Same plain-SQL `ORDER BY cosine DESC LIMIT 10` through the "
            "stock exact TakeOrderedAndProject and through the Catalyst "
            "ANN route (64 cells, timing lane accuracyFactor=4 → ~20% "
            "of cells probed). Scales expand the 2k-row sf0.1 "
            "embeddings table by its OWN factors (x64 ≈ 128k vectors, "
            "x512 ≈ 1M) with hash-pseudo-random per-replica noise at "
            "inter-point amplitude — replicas form overlapping clouds "
            "that straddle IVF cell boundaries, so recall is earned, "
            "not an artifact of replicated clusters (which pinned it "
            "at 1.0 through round 8). Recall columns are mean "
            "recall@10 over 8 query points per accuracy preset "
            "(fast/balanced/high_accuracy mirror SearchConfig); "
            "asserted monotone, fast < 0.95, high_accuracy ≥ 0.9, and "
            "the af4 timing point ≥ 0.5, at every scale. "
            "`recall@k edge` (round 10) pins the k-ceiling decline "
            "boundary as recall-safe. Probing this FOUND a routing "
            "hazard: IVF recall@k decays with k on a fixed-fraction "
            "probe (rank-k true neighbors spread across more cells — "
            "measured at x64/af4: 0.925@10, 0.895@50, 0.858@100, "
            "0.759@250, 0.687@500, 0.637@1000), so the flat "
            "ann.maxK=10000 ceiling was NOT recall-safe on small "
            "corpora. The rule now composes a CORPUS-RELATIVE ceiling "
            "(ann.maxKFrac, default 0.001 — decline when k > 0.1% of "
            "the persisted corpus size; unknown size falls back to "
            "the absolute ceiling). The probe asserts: at the "
            "effective ceiling k = frac·n the route engages and MEAN "
            "recall@k over the 8 query points (af4) holds ≥ 0.7 — the "
            "fast preset's measured floor, i.e. no worse than the "
            "cheapest preset a user can opt into; at k = ceiling+1 "
            "the plan is stock exact (recall 1.0).",
            "",
            "| scale | exact s | routed s | speedup | recall@10 (af4) "
            "| fast | balanced | high_accuracy | recall@k edge |",
            "|---|---|---|---|---|---|---|---|---|",
        ]
        for kk, r in ann.items():
            lines.append(f"| {kk} | {r['exact_s']} | {r['routed_s']} | "
                         f"{r['speedup']} | {r['recall_at_10']} | "
                         f"{r.get('recall_fast', '—')} | "
                         f"{r.get('recall_balanced', '—')} | "
                         f"{r.get('recall_high_accuracy', '—')} | "
                         f"{r.get('maxk_edge_recall', '—')} |")
        lines += [
            "",
            "## IVF build: sampled-fit protocol vs full-corpus fit",
            "",
            "k-means FIT cost only — the corpus-wide assignment pass + "
            "partitioned index write are identical under both "
            "protocols, so the fit is the only term the round-8 "
            "sampled protocol (FAISS train/add: count + distributed "
            "sample + fit on ~256 vectors/centroid, min 20k) changes "
            "vs the naive full-corpus fit (maxIter cached corpus "
            "passes). The sampled fit is corpus-size-independent; the "
            "full fit grows with the corpus here and becomes "
            "I/O-bound-per-iteration once the corpus outgrows cache — "
            "the 100 TB regime this probe cannot reach.",
            "",
            "| scale | sampled fit s | full-corpus fit s |",
            "|---|---|---|",
        ]
        for kk, r in ann.items():
            lines.append(f"| {kk} | {r['build_sampled_s']} | "
                         f"{r['build_fullfit_s']} |")
        with open(out_md, "w") as f:
            f.write("\n".join(lines) + "\n")
        print(f"wrote {out_md}")
    shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    main()
