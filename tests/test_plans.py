"""Plan-quality regression tests — the 100 TB review encoded as
assertions: filters must reach the parquet scan, projections must
prune, small dims must broadcast, top-k must be TakeOrderedAndProject,
and shuffle counts must stay at their designed minimum. A plan that
silently regresses to a worse shape fails here even though results
stay correct."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from deeplake_spark.io import load_table
from deeplake_spark.plans.explain import (
    assert_pruned_columns,
    assert_pushed_filter,
    explain_query,
)
from deeplake_spark.queries import load_all

REG = load_all()


def test_filter_pushdown_to_scan(spark, sf_dir):
    df = REG["q06_forecast_revenue"].fn(spark, sf_dir)
    assert_pushed_filter(df, "GreaterThanOrEqual(l_shipdate")
    assert_pushed_filter(df, "LessThan(l_quantity,24.0)")


def test_column_pruning(spark, sf_dir):
    lineitem_cols = {
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate",
    }
    df = REG["q06_forecast_revenue"].fn(spark, sf_dir)
    assert_pruned_columns(
        df, lineitem_cols, {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}
    )


def test_topk_is_take_ordered(spark, sf_dir):
    rep = explain_query(REG["v01_cosine_topk"].fn(spark, sf_dir))
    assert rep.top_k, "ORDER BY score LIMIT k must compile to TakeOrderedAndProject"
    rep3 = explain_query(REG["q03_shipping_priority"].fn(spark, sf_dir))
    assert rep3.top_k


def test_dim_joins_broadcast(spark, sf_dir):
    rep = explain_query(REG["q05_local_supplier_volume"].fn(spark, sf_dir))
    assert rep.n_broadcasts >= 2, f"nation/region must broadcast; got {rep.joins}"
    assert "BroadcastHashJoin" in rep.joins


def test_q01_single_shuffle(spark, sf_dir):
    # scan → [ensure_parallelism round-robin, only on under-split local
    # scans] → partial agg → ONE exchange on the group keys → final agg
    # → range exchange for the sort. The aggregation itself must never
    # grow beyond its single hash-partitioned exchange.
    rep = explain_query(REG["q01_pricing_summary"].fn(spark, sf_dir))
    assert rep.n_exchanges <= 3, f"Q1 grew extra shuffles: {rep.n_exchanges}\n{rep.text[:1500]}"
    hash_exchanges = rep.text.count("hashpartitioning(l_returnflag")
    assert hash_exchanges == 1, (
        f"Q1 must have exactly one group-key exchange, got {hash_exchanges}\n"
        f"{rep.text[:1500]}"
    )


def test_codegen_on_scan_pipeline(spark, sf_dir):
    # AQE hides codegen markers until exchanges finalize, so assert on a
    # shuffle-free pipeline: scan → filter → project stays in one
    # WholeStageCodegen span
    df = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") < 5).select(
        "l_orderkey", (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev")
    )
    rep = explain_query(df)
    assert rep.wholestage_codegen, rep.text[:1000]


def test_generated_classes_compile_once_per_session(spark, sf_dir):
    """Forcing the same plans a second time compiles nothing. One round
    is the perfbench `lanes` roster plus 120 plans no other test builds
    (a distinct inlined literal each), so it generates more classes
    than Spark's default 100-entry codegen cache holds; at that default
    the second round recompiled them. A warm-up pass first, as in
    perfbench: t27's first build persists its count relation, and its
    later builds plan against the filled cache (4 other classes)."""
    from deeplake_spark.session import CODEGEN_MAX_CLASSES
    from perfbench.lanes import ROSTER, force, roster

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_MAX_CLASSES)
    lanes = roster(REG)
    compiles = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME())

    def force_roster() -> None:
        for prefix in ROSTER:
            force(lanes[prefix].fn(spark, sf_dir))

    def one_round() -> int:
        before = compiles.getCount()
        force_roster()
        for i in range(120):
            force(spark.range(4).selectExpr(f"id * 7919 + {1_000_003 + i} AS v"))
        return compiles.getCount() - before

    force_roster()
    assert one_round() >= 120
    assert one_round() == 0


def test_tql_filter_pushdown(spark, sf_dir):
    """Predicates written in TQL must still reach the parquet scan —
    the translator emits Catalyst-transparent expressions."""
    from deeplake_spark import tql

    d = load_table(spark, sf_dir, "documents")
    df = tql.query("SELECT doc_id WHERE n_chars > 300", default=d)
    assert_pushed_filter(df, "GreaterThan(n_chars,300)")
    assert_pruned_columns(
        df, {"doc_id", "text", "lang", "source", "n_chars"}, {"doc_id", "n_chars"}
    )


def test_exact_dedup_single_shuffle(spark, sf_dir):
    df = REG["d01_exact_dup_groups"].fn(spark, sf_dir)
    rep = explain_query(df)
    assert rep.n_exchanges <= 2, f"exact dedup should be one agg shuffle (+sort): {rep.n_exchanges}"


def test_quantized_prefilter_no_extra_shuffle(spark, sf_dir):
    rep = explain_query(REG["v11_quantized_search"].fn(spark, sf_dir))
    # hamming prefilter is a TakeOrdered over the scan; rerank sorts k*af rows
    assert rep.top_k


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """Same-bucketed fact tables join without an Exchange — the layout
    that removes the orders x lineitem shuffle at 100 TB."""
    from deeplake_spark.plans.layout import bucketed_join, write_bucketed

    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
    write_bucketed(o, "b_orders", ["o_orderkey"], 8)
    write_bucketed(l, "b_lineitem", ["o_orderkey"], 8)
    try:
        joined = bucketed_join(spark, "b_orders", "b_lineitem", ["o_orderkey"]) \
            .groupBy("o_orderpriority").count()
        # disable broadcast so the join strategy itself is exercised
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        rep = explain_query(
            bucketed_join(spark, "b_orders", "b_lineitem", ["o_orderkey"])
        )
        assert "SortMergeJoin" in rep.joins or "ShuffledHashJoin" in rep.joins
        assert rep.n_exchanges == 0, f"bucketed join must not shuffle:\n{rep.text[:1200]}"
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_salted_join_matches_plain(spark, sf_dir):
    from deeplake_spark.plans.layout import salted_join

    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    plain = l.join(o, "l_orderkey").groupBy("o_orderpriority").count()
    salted = salted_join(l, o, "l_orderkey").groupBy("o_orderpriority").count()
    a = {r.o_orderpriority: r["count"] for r in plain.collect()}
    b = {r.o_orderpriority: r["count"] for r in salted.collect()}
    assert a == b


def test_hybrid_fusion_is_candidate_bounded(spark, sf_dir):
    """t10 must fuse two top-N score LISTS (TakeOrdered per side before
    the fusion join), never corpus-wide score relations — at 100 TB the
    old shape was three corpus-sized passes for a top-10."""
    df = REG["t10_hybrid_search"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("TakeOrderedAndProject") >= 3  # each list + final top-k


def test_no_unpartitioned_data_windows(spark, sf_dir):
    """r05 / weighted-fraction sampling rank with partition-offset ids;
    a row_number() (always an unpartitioned Window here) in the plan
    means the single-task global sort crept back."""
    from deeplake_spark.operators.sampling import sample_by_weight_fraction

    for df in (
        REG["r05_limit_percent"].fn(spark, sf_dir),
        REG["r07_row_number_offset"].fn(spark, sf_dir),
        sample_by_weight_fraction(
            load_table(spark, sf_dir, "documents"), F.col("n_chars"), 0.1),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "row_number" not in plan.lower()


def test_group_runs_windows_are_partitioned(spark):
    """ACROSS TIME run detection must window per physical partition
    (two-pass stitch), never over the whole sorted relation: every
    lag/sum window over row data carries the __gpid partition spec."""
    from deeplake_spark.operators.restructure import group_runs

    df = spark.range(500).select(
        F.col("id").alias("i"), (F.col("id") % 13).cast("string").alias("k"))
    out = group_runs(df, ["k"], ["i"], ["i"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "lag(" in line:
            assert "__gpid" in line, line


def test_window_dedup_explode_not_pushed_into_generator(spark, sf_dir):
    """d06/d08 window builds use explode_outer + a null-filter on the
    OUTPUT (CLAUDE.md trap 2): a plain explode would let Catalyst infer
    `size(...) > 0` on the generator INPUT and push the whole tokenize
    expression (inlined, twice) below the Repartition to the scan —
    serializing the CPU-heavy work into the scan's partitioning."""
    for name in (
        "d06_dup_ngram_windows",
        "d08_decontamination",
        "t08_bm25_topk",
        "t09_inverted_df",
        "t10_hybrid_search",
    ):
        df = REG[name].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        for line in plan.splitlines():
            if "FileScan" in line or "PushedFilters" in line:
                assert "split(" not in line, f"{name}: tokenize pushed to scan"
    # same trap, tile-generator flavor: r03's tile construction must not
    # be inlined into the scan as an inferred size>0 constraint
    df = REG["r03_expand_tiles"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "FileScan" in line or "PushedFilters" in line:
            assert "transform(" not in line, "r03: tile expr pushed to scan"


def test_decontamination_corpus_side_is_broadcast_semijoin(spark, sf_dir):
    """d08's corpus pass must be a broadcast LeftSemi (eval windows are
    tiny vs the corpus) — a shuffled corpus join here is the scale
    killer at 100 TB."""
    df = REG["d08_decontamination"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    # and never a sort-merge join of corpus windows against eval windows
    assert "SortMergeJoin" not in plan


def test_pack_token_budget_no_global_window(spark, sf_dir):
    """r17's running token count must stay partition-local (range sort
    + broadcast partition offsets) — an unpartitioned running-sum
    window would funnel the whole corpus through one task."""
    df = REG["r17_pack_token_budget"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "row_number" not in plan.lower()
    for line in plan.splitlines():
        if "windowspecdefinition" in line.lower() and "unboundedpreceding" in line.lower():
            assert "__pid" in line, f"unpartitioned running window: {line[:160]}"


def test_effective_tokens_no_window_over_data(spark, sf_dir):
    """t50's keep-first must be the digest-keyed min AGGREGATE + join
    back (the dedup_corpus_lines convention), NOT a digest-partitioned
    window: a corpus-hot duplicate document would funnel its whole
    digest group through ONE window task, and AQE cannot split a
    window partition (r14 verdict weak item)."""
    df = REG["t50_effective_tokens"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window [" not in plan, plan
    assert "row_number" not in plan.lower()


def test_repetition_metrics_is_scan_shaped(spark, sf_dir):
    """r15 opt: t29's per-doc stats are per-row array expressions
    (sizes + a sorted longest-equal-run fold) — no explode, no join,
    no aggregation shuffle; the only exchanges are ensure_parallelism's
    round-robin and the output sort's range partitioning."""
    df = REG["t29_repetition_metrics"].fn(spark, sf_dir)
    rep = explain_query(df)
    assert not rep.joins, f"t29 must not join: {rep.joins}"
    assert rep.n_exchanges <= 2, f"t29 grew shuffles: {rep.n_exchanges}"
    assert "Generate" not in rep.text, "t29 regrew an explode lane"
    assert "HashAggregate" not in rep.text, "t29 regrew an aggregation"


def test_vocab_topk_is_take_ordered(spark, sf_dir):
    # top-50 vocabulary must be TakeOrderedAndProject (k rows per
    # partition to the driver), never a global sort of the term table
    rep = explain_query(REG["t15_vocab_topk"].fn(spark, sf_dir))
    assert rep.top_k, f"t15 lost its TakeOrderedAndProject:\n{rep.text[:1200]}"


def test_mixture_sample_is_scan_only(spark, sf_dir):
    # the mixture filter is a pure per-row expression: no joins and only
    # the final per-source aggregation exchange (+ its sort)
    rep = explain_query(REG["t16_mixture_sample"].fn(spark, sf_dir))
    assert not rep.joins, f"t16 must not join: {rep.joins}"
    assert rep.n_exchanges <= 2, f"t16 grew shuffles: {rep.n_exchanges}"


def test_embedding_dispersion_has_no_pairwise_join(spark, sf_dir):
    # dispersion uses the closed form, not an O(N^2) self-join: the only
    # join is the tiny per-label stats join (broadcast or post-agg)
    import re

    rep = explain_query(REG["v21_embedding_dispersion"].fn(spark, sf_dir))
    assert "CartesianProduct" not in rep.text
    # formatted plans repeat each node in the details section — count
    # distinct numbered scan nodes, not raw substring occurrences
    scans = len(set(re.findall(r"\(\d+\) Scan parquet", rep.text)))
    assert scans <= 2, (
        f"v21 should scan embeddings at most twice (fold + posexplode):\n"
        f"{rep.text[:1200]}")


def test_temperature_mixture_joins_are_broadcast(spark, sf_dir):
    """t19's derived-rate relation is tiny (one row per domain) — both
    the wmax cross join and the rate join to the corpus must broadcast,
    and no global window/row_number may appear."""
    rep = explain_query(REG["t19_temperature_mixture"].fn(spark, sf_dir))
    assert "row_number" not in rep.text.lower()
    assert "CartesianProduct" not in rep.text
    assert all("Broadcast" in j for j in rep.joins), (
        f"t19 rate joins must broadcast: {rep.joins}")


def test_chunking_generator_not_pushed_to_scan(spark, sf_dir):
    """t20's chunk-index generator must not leak a tokenize-bearing
    size()>0 predicate into the parquet scan (perf trap #2: pushed
    generator-input filters inline the projected token expression into
    the scan, twice)."""
    plan = (REG["t20_fixed_len_chunks"].fn(spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString())
    scan_part = plan[plan.find("Scan parquet"):]
    assert "split" not in scan_part.lower().split("readschema")[0], (
        "tokenize leaked into the scan-level filters")
    assert "row_number" not in plan.lower()


def test_blocklist_and_curriculum_are_scan_shaped(spark, sf_dir):
    """t21 is scan → one aggregate (no join at all); t22's only join is
    the broadcast of the 1-row quantile aggregate."""
    rep21 = explain_query(REG["t21_blocklist_ratio"].fn(spark, sf_dir))
    assert not rep21.joins, f"t21 must not join: {rep21.joins}"
    rep22 = explain_query(REG["t22_curriculum_bins"].fn(spark, sf_dir))
    assert all("Broadcast" in j for j in rep22.joins), (
        f"t22 quantile join must broadcast: {rep22.joins}")
    assert "row_number" not in rep22.text.lower()


def test_norm_outliers_single_corpus_stats_pass(spark, sf_dir):
    """v22's corpus stats are a 1-row broadcast; no cartesian product,
    no window, at most the two embeddings scans (norms + stats)."""
    import re

    rep = explain_query(REG["v22_norm_outliers"].fn(spark, sf_dir))
    assert "CartesianProduct" not in rep.text
    assert "row_number" not in rep.text.lower()
    scans = len(set(re.findall(r"\(\d+\) Scan parquet", rep.text)))
    assert scans <= 2, f"v22 should scan embeddings at most twice:\n{rep.text}"


def test_ivf_batch_routing_udf_evaluates_once(spark, sf_dir):
    """v23's vectorized centroid-routing UDF (trap 26) is projected to
    a column and exploded via explode_outer (traps 2/3 guard): exactly
    ONE ArrowEvalPython node in the physical plan — a plain explode
    would let InferFiltersFromGenerate push a UDF-bearing size()>0
    filter to the scan and evaluate the routing twice — and the
    (qid, cluster) routing relation broadcast-joins the assignments
    (r13 VERDICT task 5)."""
    plan = (REG["v23_ivf_batch_knn"].fn(spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "BatchEvalPython" not in plan  # Arrow-batched, never row-wise
    assert "BroadcastHashJoin" in plan, plan
    scan_part = plan[plan.find("Scan parquet"):].split("ReadSchema")[0]
    assert "pythonUDF" not in scan_part, (
        "routing UDF leaked into the scan-side filters")


def test_global_plan_audit_no_cartesian_no_global_windows(spark, sf_dir):
    """Sweep EVERY registered query's physical plan (translate-only, no
    execution): no CartesianProduct anywhere, and every row_number
    window is PARTITIONED — an unpartitioned one (`], [], [` in the
    Window node) funnels the whole relation through a single task at
    scale. The per-query audits above pin known-risky shapes; this
    catches the next regression wherever it appears (CLAUDE.md trap 11
    generalized)."""
    offenders = {}
    for name, q in sorted(REG.items()):
        plan = q.fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
            continue
        for line in plan.splitlines():
            if ("Window [" in line and "row_number" in line.lower()
                    and "], [], [" in line):
                offenders[name] = "unpartitioned row_number window"
                break
    assert offenders == {}, offenders


def test_r16_restructured_shapes(spark, sf_dir):
    """r16 restructure pins (the executed-plan evidence lives in
    plans/r16/*_final.txt; these keep the shapes from regressing):
    - d06: the dup flag is a pair of window aggregates PARTITIONED by
      the window key — no join, no posting persist (the pre-r16 shape
      had a distinct exchange + dup-key aggregate + flag join);
    - t41/t27: the bigram count relation is persisted (AQE never
      reused the duplicate exchanges — divergent inferred join
      null-filters), so the marginals read InMemoryTableScan;
    - t33 (capped): the pair fan-out is a bounded collect_list +
      row-local expansion — exactly ONE join (the dup semi) remains.
    """
    def joins_of(name):
        # plain plan string, ONE line per node (the formatted mode
        # repeats node names in its details section)
        plan = (REG[name].fn(spark, sf_dir)
                ._jdf.queryExecution().executedPlan().toString())
        return plan, [
            ln for ln in plan.splitlines()
            if ("BroadcastHashJoin" in ln or "SortMergeJoin" in ln
                or "ShuffledHashJoin" in ln or "BroadcastNestedLoop" in ln)
        ]

    plan, joins = joins_of("d06_dup_ngram_windows")
    assert joins == [], f"d06 grew joins back: {joins}"
    assert "Window" in plan, "d06 window flag gone"
    for lane in ("t41_pmi_collocations", "t27_bigram_surprisal"):
        plan, _ = joins_of(lane)
        assert "InMemoryTableScan" in plan, f"{lane} count persist gone"
    plan, joins = joins_of("t33_cdc_shared_passages")
    assert len(joins) == 1 and "LeftSemi" in joins[0], \
        f"t33 pair join is back: {joins}"
    # r15 shapes, pinned at the executed level per the r15 verdict
    # (#7): t29 is pure array expressions (no Generate, no aggregation
    # shuffle fan-out), t30 is the two-pass DSIR (two corpus scans,
    # no nested-loop joins)
    plan, _ = joins_of("t29_repetition_metrics")
    assert "Generate" not in plan, "t29 explode is back"
    plan, joins = joins_of("t30_dsir_selection")
    assert not any("BroadcastNestedLoop" in j for j in joins), \
        f"t30 BNLJ is back: {joins}"
    n_scans = sum(1 for ln in plan.splitlines() if "Scan parquet" in ln)
    assert n_scans <= 2, f"t30 corpus read amplification is back: {n_scans}"
    # r16 session-2 persists (trap 27 — multiply-consumed prepared
    # relations never share exchanges): v08/v20's LSH signature
    # relation and t42's uncapped winnow fingerprints each fill once
    # and serve every consumer from InMemoryTableScan
    for lane in ("v08_near_dup_pairs", "v20_semantic_decontamination",
                 "t42_winnow_fingerprint_pairs"):
        plan, _ = joins_of(lane)
        assert "InMemoryTableScan" in plan, f"{lane} persist gone"


def test_aqe_skew_split_engages_on_hot_key(spark, sf_dir):
    """Skew hardening, plan-proven: a q18-shape join where one orderkey
    owns ~80% of lineitem rows gets its hot reduce partition SPLIT by
    AQE's skew-join rule (thresholds lowered to this fixture's scale —
    the same split a 100 TB run gets at stock 256 MB thresholds), and
    plans/layout.salted_join spreads the same hot key over many
    partitions without AQE's help.

    AQE can only split a reduce partition into per-MAPPER chunks, so
    the skewed side must arrive from several map tasks (at 100 TB it
    always does; here a repartition provides them)."""
    from deeplake_spark.plans.layout import salted_join

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    hot = orders.select("o_orderkey").head()[0]
    sk = (li.repartition(16)
          .withColumn("l_orderkey",
                      F.when(F.rand(seed=7) < 0.8, F.lit(hot))
                      .otherwise(F.col("l_orderkey")))
          # incompressible pad: skew detection reads COMPRESSED map
          # sizes, and the fixture is tiny
          .withColumn("pad", F.expr(
              "concat_ws('', transform(sequence(1, 8), x -> uuid()))")))
    ord_r = (orders.withColumnRenamed("o_orderkey", "l_orderkey")
             .select("l_orderkey", "o_custkey"))

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    saved = {}
    for c in confs:
        try:
            saved[c] = spark.conf.get(c)
        except Exception:
            saved[c] = None
    try:
        for c, v in confs.items():
            spark.conf.set(c, v)
        j = sk.join(ord_r, "l_orderkey").select("o_custkey", "l_quantity",
                                                "pad")
        assert len(j.collect()) == li.count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, \
            f"AQE skew split did not engage:\n{plan[:1500]}"
    finally:
        for c, v in saved.items():
            if v is None:
                spark.conf.unset(c)
            else:
                spark.conf.set(c, v)

    # explicit lever: salted_join spreads the hot key across partitions
    # (hash(key, salt) placement) with no AQE involvement
    spread = (salted_join(sk.select("l_orderkey", "l_quantity"), ord_r,
                          "l_orderkey")
              .filter(F.col("l_orderkey") == hot)
              .select(F.spark_partition_id().alias("pid"))
              .distinct().count())
    assert spread > 1, "salted join left the hot key on one partition"


def test_session_key_is_uuid_not_address(spark):
    """Every Python-side per-session memo keys on memo.session_key — the
    JVM sessionUUID (the JVM probe caches' convention) — never
    id(spark): CPython reuses object addresses after GC, so an
    id-keyed memo could silently serve one session's DataFrames or
    centroids to a LATER session at the same address. Also greps the
    package so no new id(spark) cache key sneaks back in."""
    import glob

    from deeplake_spark.memo import session_key

    k = session_key(spark)
    assert k == session_key(spark), "must be stable per session"
    assert k == str(spark._jsparkSession.sessionUUID())
    assert session_key(spark.newSession()) != k
    offenders = []
    for path in glob.glob("/root/repo/deeplake_spark/**/*.py",
                          recursive=True):
        src = open(path).read()
        for i, line in enumerate(src.splitlines(), 1):
            # flag only assignments (cache keys); the session_key
            # fallback and docstrings mention id(spark) legitimately
            if "id(spark)" in line and "=" in line \
                    and "pyid-" not in line \
                    and not line.lstrip().startswith("#"):
                offenders.append(f"{path}:{i}: {line.strip()}")
    assert offenders == [], offenders


def _plan_key_case(spark, tmp_path, case):
    """(expectation, plan_keys) for one row of the plan_key rule."""
    import os

    import pandas as pd

    from deeplake_spark.memo import plan_key

    def write(name, lo):
        path = str(tmp_path / name)
        pd.DataFrame({"id": list(range(lo, lo + 10))}).to_parquet(path)
        return path

    def scan(path):
        return spark.read.parquet(path).filter(F.col("id") >= 0)

    a = write("a.parquet", 0)
    literal = spark.createDataFrame([(1,)], "id long")
    if case == "local_relation":
        return "none", [plan_key(literal)]
    if case == "pandas_frame":
        return "none", [plan_key(spark.createDataFrame(
            pd.DataFrame({"id": [1, 2]})))]
    if case == "rdd_frame":
        return "none", [plan_key(spark.createDataFrame(
            spark.sparkContext.parallelize([(1,), (2,)]), "id long"))]
    if case == "scan_union_literal":
        return "none", [plan_key(scan(a).unionByName(literal))]
    if case == "other_directory":
        return "differ", [plan_key(scan(a)),
                          plan_key(scan(write("b.parquet", 0)))]
    if case == "rewritten_file":
        before = plan_key(scan(a))
        st = os.stat(a)
        write("a.parquet", 50_000)
        os.utime(a, (st.st_atime, st.st_mtime + 2))
        return "differ", [before, plan_key(scan(a))]
    if case == "same_scan":
        return "equal", [plan_key(scan(a)), plan_key(scan(a))]
    if case == "same_range":
        return "equal", [plan_key(spark.range(100).filter("id > 3")),
                         plan_key(spark.range(100).filter("id > 3"))]
    assert case == "other_range"
    return "differ", [plan_key(spark.range(100)), plan_key(spark.range(101))]


@pytest.mark.parametrize("case", [
    "local_relation", "pandas_frame", "rdd_frame", "scan_union_literal",
    "other_directory", "rewritten_file", "same_scan", "same_range",
    "other_range"])
def test_plan_key_content_rule(spark, tmp_path, case):
    """memo.plan_key is the one key every plan-keyed memo uses (traps
    19/29). No key when the plan holds rows its canonical string does
    not print (LocalRelation, LogicalRDD — alone or mixed with a file
    scan); different keys for same-shape scans over different files or
    over one file rewritten in place; equal keys for fresh DataFrame
    objects over the same plan, including a Range, whose canonical
    string prints its bounds."""
    expect, keys = _plan_key_case(spark, tmp_path, case)
    if expect == "none":
        assert keys == [None]
        return
    assert None not in keys, keys
    assert (keys[0] == keys[1]) == (expect == "equal"), keys


def _scan_of(spark, root, n_files):
    """A filtered scan over a directory of `n_files` one-row files."""
    import pandas as pd

    root.mkdir()
    for i in range(n_files):
        pd.DataFrame({"id": [i]}).to_parquet(root / f"part-{i}.parquet")
    return spark.read.parquet(str(root)).filter(F.col("id") >= 0)


class _CountedGateway:
    """Counts Py4J round trips by wrapping the gateway client's
    send_command (the way perfbench/trace.py counts them). Detach
    commands are not counted: JavaObject finalizers send one per
    collected object whenever Python's GC runs inside the window, so
    they measure the GC's timing, not the code under test."""

    def __init__(self, spark):
        self.client = spark.sparkContext._gateway._gateway_client
        self.calls = 0

    def __enter__(self):
        from py4j import protocol as proto

        self.send = send = self.client.send_command
        detach = proto.MEMORY_COMMAND_NAME + proto.MEMORY_DEL_SUBCOMMAND_NAME

        def counted(command, *args, **kwargs):
            if not command.startswith(detach):
                self.calls += 1
            return send(command, *args, **kwargs)

        self.client.send_command = counted
        return self

    def __exit__(self, *exc):
        self.client.send_command = self.send


def test_plan_key_lists_files_in_constant_round_trips(spark, tmp_path,
                                                     monkeypatch):
    """memo.plan_key fetches the plan's input files in one joined
    string, not one Py4J round trip per file (PySpark's
    DataFrame.inputFiles walks the Java array element by element): a
    scan of 40 files costs the same gateway calls as a scan of 1, and
    the key equals the one built from PySpark's own file list."""
    from deeplake_spark import memo

    scans = [_scan_of(spark, tmp_path / f"d{n}", n) for n in (1, 40)]
    calls, keys = [], []
    for df in scans:
        memo.plan_key(df)  # warm the analyzed plan and Py4J class lookups
        with _CountedGateway(spark) as gw:
            keys.append(memo.plan_key(df))
        calls.append(gw.calls)
    assert calls[0] == calls[1], calls
    assert len(memo.input_files(scans[1])) == 40
    monkeypatch.setattr(memo, "input_files", lambda df: df.inputFiles())
    assert keys == [memo.plan_key(df) for df in scans]


def test_ann_route_possible_keeps_file_list_on_jvm(spark, tmp_path):
    """sqlrouting._ann_route_possible hands the view's input files to
    IndexRegistry.kindsForPaths without listing them into Python and
    back: the same gateway calls for 1 and 40 files, and the answer
    still follows the registration covering them."""
    from deeplake_spark.plans import sqlrouting as rt

    if not rt.is_available(spark):
        pytest.skip("extension jar not on driver classpath")
    reg = rt._registry(spark)
    reg.clear()
    try:
        calls = []
        for n in (1, 40):
            root = tmp_path / f"v{n}"
            _scan_of(spark, root, n).createOrReplaceTempView(f"rt_files_{n}")
            reg.register(str(root), "emb", "clustered",
                         str(root / "_idx"), "id")
            rt._ann_route_possible(spark, f"rt_files_{n}")  # warm
            with _CountedGateway(spark) as gw:
                assert rt._ann_route_possible(spark, f"rt_files_{n}")
            calls.append(gw.calls)
        assert calls[0] == calls[1], calls
        reg.clear()
        reg.register(str(tmp_path / "v40"), "text", "inverted",
                     str(tmp_path / "v40" / "_idx"), "id")
        assert not rt._ann_route_possible(spark, "rt_files_40")
    finally:
        reg.clear()
