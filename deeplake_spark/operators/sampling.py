"""SAMPLE BY — weighted sampling operators (reference
`cpp/query_core/sample_statement.hpp:15-100`, grammar y:911-917,
tql.md:333-348,641-644).

Scale design: everything is a per-row expression + top-k or
per-partition generation — no driver-side collection, no global state.

  - without replacement: A-ES (Efraimidis–Spirakis) — key each row with
    u^(1/w), take the global top-n via TakeOrderedAndProject.
  - with replacement: per-row Poisson draw of copy counts (expected
    n * w / sum_w), exploded into output rows — the distributed
    approximation of multinomial sampling (exact at scale; the
    alias-table alternative needs a global weight table).
  - LIMIT n PERCENT: count-scaled limit without a driver round trip.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def weight_pair_max(*cases: tuple[Column, float]) -> Column:
    """TQL `max_weight(cond1: w1, cond2: w2, ...)` — max weight among
    matching conditions, 0 when none match (expr.hpp:158,165-169)."""
    out = F.lit(0.0)
    for cond, w in cases:
        out = F.greatest(out, F.when(cond, F.lit(float(w))).otherwise(F.lit(0.0)))
    return out


def weight_pair_sum(*cases: tuple[Column, float]) -> Column:
    """TQL `sum_weight(...)` — sum of weights of matching conditions."""
    out = F.lit(0.0)
    for cond, w in cases:
        out = out + F.when(cond, F.lit(float(w))).otherwise(F.lit(0.0))
    return out




def _resolve_seed(seed):
    """Process-wide RNG control (reference deeplake.random.seed): when
    deeplake_spark.random.seed is set and the caller left the engine's
    default draw seed (42), the global seed wins; an explicit
    non-default seed (or seed=None = nondeterministic) is honored."""
    from deeplake_spark.dataset import random as _rng

    if _rng.seed is not None and seed == 42:
        return _rng.seed
    return seed


def sample_by_weight(df: DataFrame, weight: Column, n: int,
                     seed: int | None = 42) -> DataFrame:
    """Weighted sampling WITHOUT replacement via A-ES: top-n rows by
    pow(u, 1/w). Rows with weight <= 0 are excluded (reference
    semantics: zero weight = never sampled)."""
    seed = _resolve_seed(seed)
    u = F.rand(seed) if seed is not None else F.rand()
    key = F.pow(u, F.lit(1.0) / weight)
    return (
        df.withColumn("__w", weight)
        .filter(F.col("__w") > 0)
        .withColumn("__key", key)
        .orderBy(F.desc("__key"))
        .limit(n)
        .drop("__w", "__key")
    )


def _global_row_number(df: DataFrame, order: list[Column], col_name: str) -> DataFrame:
    """0-based global row number over `order` WITHOUT an unpartitioned
    window: range-partitioned sort (parallel), then the partition-offset
    trick (io.with_row_id's scale path) — per-partition monotonic ids
    shifted by a broadcast one-row-per-partition offsets aggregate. No
    single task ever holds more than its partition."""
    from deeplake_spark.io import with_row_id

    return with_row_id(df.orderBy(*order), col_name=col_name)


def sample_by_weight_fraction(df: DataFrame, weight: Column, fraction: float,
                              seed: int | None = 42) -> DataFrame:
    """SAMPLE BY w LIMIT p PERCENT — percentage variant
    (sample_statement.hpp:31-39): count-scaled n, then A-ES. The limit
    is a broadcast 1-row aggregate and ranking is partition-offset
    based — no driver count, no unpartitioned window."""
    seed = _resolve_seed(seed)
    u = F.rand(seed) if seed is not None else F.rand()
    lim = df.agg(F.ceil(F.count(F.lit(1)) * fraction).alias("__lim"))
    keyed = (
        df.withColumn("__w", weight)
        .filter(F.col("__w") > 0)
        .withColumn("__key", F.pow(u, F.lit(1.0) / F.col("__w")))
    )
    ranked = _global_row_number(keyed, [F.desc("__key")], "__rn")
    return (
        ranked.crossJoin(F.broadcast(lim))
        .filter(F.col("__rn") < F.col("__lim"))
        .drop("__w", "__key", "__rn", "__lim")
    )


def sample_with_replacement(df: DataFrame, weight: Column, n: int | None = None,
                            fraction: float | None = None,
                            seed: int = 42) -> DataFrame:
    """Weighted sampling WITH replacement (REPLACE TRUE).

    Distributed multinomial approximation: each row draws a Poisson
    count with mean n * w / W (W = total weight, a 1-row broadcast),
    then explodes into that many copies. E[output rows] = n; no
    single-point alias table, scales linearly.

    Exactly one of ``n`` / ``fraction`` must be given. With ``fraction``
    the target size is ceil(count * fraction), computed inside the same
    1-row broadcast aggregate as the weight total — no driver-side
    count job.

    The per-row copy count is an exact inverse-CDF Poisson draw: fold
    the cumulative pmf over 0..kmax until it passes the row's uniform,
    where kmax = lam + 10*sqrt(lam) + 10 bounds the truncation error
    below ~1e-12 for ANY lambda. (A previous version capped the draw at
    3 copies, which biases counts low once lambda approaches 1 — e.g.
    resampling n comparable to N, or one row carrying most weight.)
    Fold cost is O(kmax) per row: ~11 terms at the usual lam << 1.
    """
    if (n is None) == (fraction is None):
        raise ValueError("exactly one of n / fraction is required")
    seed = _resolve_seed(seed)
    aggs = [F.sum(weight.cast("double")).alias("__W")]
    if fraction is not None:
        aggs.append(
            F.ceil(F.count(F.lit(1)) * float(fraction)).cast("double").alias("__ntgt"))
    totals = df.agg(*aggs)
    target = F.lit(float(n)) if n is not None else F.col("__ntgt")
    lam_raw = target * weight.cast("double") / F.nullif(F.col("__W"), F.lit(0.0))
    # __lam/__u are PROJECTED columns, not inlined exprs: the fold below
    # references them per element (perf trap #3) and rand() must be
    # drawn once per row, not once per fold step.
    base = (
        df.crossJoin(F.broadcast(totals))
        .withColumn("__lam", F.greatest(F.coalesce(lam_raw, F.lit(0.0)), F.lit(0.0)))
        .withColumn("__u", F.rand(seed))
    )
    lam = F.col("__lam")
    kmax = F.ceil(lam + F.lit(10.0) * F.sqrt(lam) + F.lit(10.0)).cast("int")
    acc0 = F.struct(
        F.exp(-lam).alias("term"),
        F.exp(-lam).alias("cum"),
        F.lit(0).alias("k"),
    )

    def step(acc, j):
        # merge signature is (acc, element) — the index-as-2nd-arg trap
        # applies to transform/filter lambdas, not aggregate's merge
        nxt = acc["term"] * lam / j.cast("double")
        return F.when(F.col("__u") < acc["cum"], acc).otherwise(
            F.struct(nxt.alias("term"), (acc["cum"] + nxt).alias("cum"),
                     j.cast("int").alias("k"))
        )

    k = F.aggregate(F.sequence(F.lit(1), kmax), acc0, step, lambda acc: acc["k"])
    return (
        base.withColumn("__k", k)
        .filter(F.col("__k") > 0)
        .withColumn("__copy", F.explode(F.sequence(F.lit(1), F.col("__k"))))
        .drop("__W", "__ntgt", "__lam", "__u", "__k", "__copy")
    )


def md5_uniform(id_col: str, salt: str) -> Column:
    """Engine-portable deterministic uniform in [0, 1): the first 32
    bits of md5(id # salt). Pure per-row expression — no RNG, no state,
    reproducible across engines (DuckDB computes the identical value),
    cluster sizes, and runs; appending rows never changes existing
    draws. The shared primitive behind assign_splits / mixture_sample /
    temperature_mixture."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col(id_col).cast("string"),
                               F.lit("#"), F.lit(salt))), 1, 8),
            16, 10,
        ).cast("long")
        / F.lit(float(1 << 32))
    )


def assign_splits(df: DataFrame, id_col: str = "doc_id",
                  fractions: dict[str, float] | None = None,
                  salt: str = "split") -> DataFrame:
    """Deterministic train/val/test split assignment — the
    reproducible-split staple of a training-data pipeline: the first
    32 bits of md5(id # salt) map to uniform [0,1), banded by the
    cumulative fractions. A pure per-row expression: no state, no
    shuffle, no RNG — the same row lands in the same split on any
    cluster size, any run, any engine (md5 is engine-portable, unlike
    xxhash64/rand), and appending rows never reassigns existing ones
    (unlike fraction sampling). Rotate `salt` to draw a fresh
    assignment.

    Returns df plus a `split` string column.
    """
    fractions = fractions or {"train": 0.9, "val": 0.05, "test": 0.05}
    items = list(fractions.items())
    u = md5_uniform(id_col, salt)
    expr = None
    cum = 0.0
    for name, frac in items[:-1]:
        cum += float(frac)
        expr = (F.when(u < cum, name) if expr is None
                else expr.when(u < cum, name))
    label = F.lit(items[0][0]) if expr is None else expr.otherwise(items[-1][0])
    return df.withColumn("split", label)


def mixture_sample(df: DataFrame, domain_col: str, rates: dict[str, float],
                   id_col: str = "doc_id", default_rate: float = 0.0,
                   salt: str = "mixture") -> DataFrame:
    """Deterministic domain-mixture downsampling — the static data-mixture
    reweighting step of a training pipeline (Pile/DoReMi-style domain
    weights): each domain independently keeps a uniform fraction of its
    rows, selected by the same engine-portable md5 uniform assign_splits
    uses, so the sample is reproducible across engines and cluster sizes
    and append-stable (new rows never flip old decisions).

    Pure per-row filter — no shuffle, no state, no RNG; at 100 TB this is
    a scan-only map and Catalyst pushes the surviving-column pruning to
    the parquet scan. `rates` maps domain value -> keep fraction in [0,1];
    unlisted domains keep `default_rate`.
    """
    for name, r in rates.items():
        if not (0.0 <= float(r) <= 1.0):
            raise ValueError(f"rate for {name!r} must be in [0,1], got {r}")
    u = md5_uniform(id_col, salt)
    rate = None
    for name, r in rates.items():
        cond = F.col(domain_col) == name
        rate = F.when(cond, float(r)) if rate is None else rate.when(cond, float(r))
    rate = F.lit(float(default_rate)) if rate is None else rate.otherwise(float(default_rate))
    return df.filter(u < rate)


def temperature_mixture(df: DataFrame, domain_col: str, alpha: float,
                        id_col: str = "doc_id",
                        salt: str = "temp-mixture") -> tuple[DataFrame, DataFrame]:
    """Temperature-scaled domain mixture (the multinomial-smoothing
    resampling of XLM-R / mT5: kept_d ∝ n_d^alpha): instead of static
    per-domain rates (``mixture_sample``), the keep fraction is DERIVED
    from the observed domain counts — alpha < 1 flattens the mixture
    (large domains downsampled toward the small ones), alpha = 1 keeps
    everything, alpha > 1 sharpens it (small domains downsampled).

    rate_d = n_d^(alpha-1) / max_e(n_e^(alpha-1)), rounded to 6
    decimals so the keep boundary is engine-portable (pow() last-ulp
    differences between engines cannot flip a row against the md5
    uniform, which has ~1e-10 resolution).

    Scale shape: the per-domain count is a tiny partial-agg relation
    (one row per domain); its max is a 1-row aggregate cross-joined
    back (broadcast); the derived rates broadcast-join to the corpus
    and the keep decision is the same pure per-row md5-uniform filter
    as mixture_sample — no corpus shuffle, no driver collection, no
    RNG, append-stable for fixed rates (re-deriving rates after an
    append is a deliberate re-weighting).

    Returns (kept_df, rates_df) where rates_df is the one-row-per-domain
    (domain, n, rate) relation — emit it for pipeline accounting.
    """
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    counts = df.groupBy(F.col(domain_col).alias("__dom")).agg(
        F.count(F.lit(1)).alias("__n"))
    w = counts.select(
        "__dom", "__n",
        F.pow(F.col("__n").cast("double"), F.lit(float(alpha) - 1.0)).alias("__w"))
    wmax = w.agg(F.max("__w").alias("__wmax"))
    rates = (
        w.crossJoin(F.broadcast(wmax))
        .select(
            "__dom", "__n",
            F.round(F.col("__w") / F.col("__wmax"), 6).alias("__rate"))
    )
    u = md5_uniform(id_col, salt)
    kept = (
        df.join(F.broadcast(rates), df[domain_col] == rates["__dom"])
        .filter(u < F.col("__rate"))
        .drop("__dom", "__n", "__w", "__rate")
    )
    rates_out = rates.select(
        F.col("__dom").alias(domain_col),
        F.col("__n").alias("n_docs"),
        F.col("__rate").alias("keep_rate"),
    )
    return kept, rates_out


def gumbel_key(id_col: str, salt: str) -> Column:
    """Deterministic standard-Gumbel draw from the md5 uniform:
    -ln(-ln(u)) with u = (md5_32bits + 0.5) / 2^32, strictly inside
    (0, 1) so neither ln can hit 0/inf. Engine-portable like
    ``md5_uniform`` (DuckDB computes the identical double). Adding it
    to a log-weight and taking the top-k is the Gumbel-top-k trick:
    sampling WITHOUT replacement proportional to the (exponentiated)
    weights, as one TakeOrderedAndProject — no RNG, no state, no
    sequential pass.

    Reuses ``md5_uniform`` (ONE copy of the oracle-critical md5
    spelling): md5_uniform + 2^-33 == (bits + 0.5)/2^32 exactly in
    IEEE doubles (bits/2^32 is an exact power-of-two division and the
    sum spans <= 33 significand bits), which is the (0,1)-open form
    the DuckDB oracle spells directly."""
    u = md5_uniform(id_col, salt) + F.lit(2.0 ** -33)
    return -F.log(-F.log(u))


def dsir_select(raw: DataFrame, target: "DataFrame | Column",
                text_col: str = "text",
                id_col: str = "doc_id", n_buckets: int = 1024, k: int = 100,
                seed: int = 0, salt: str = "dsir") -> DataFrame:
    """DSIR — Data Selection with Importance Resampling (Xie et al.
    2023, arXiv:2302.03169): select raw-corpus examples whose hashed
    bag-of-bigrams distribution looks like a (small) target domain.
    Beyond-reference LLM-pipeline operator.

      1. featurize: each bigram hashes into one of ``n_buckets``
         (portable md5-int60, the d09/d10 convention);
      2. fit: bucket unigram-of-bigrams distributions for target and
         raw, add-0.5 smoothed;
      3. weight: per raw doc, log importance weight = sum over its
         bigrams of ln(p_target[b] / p_raw[b]);
      4. resample: Gumbel-top-k on the log weight (``gumbel_key``) =
         sampling without replacement proportional to the importance
         weight, deterministic under ``salt``.

    ``target`` is either a DataFrame (a separate target corpus — its
    own tokenize pass) or a boolean Column predicate over ``raw``'s
    rows (the in-corpus-domain case, e.g. ``F.col("source").isin(...)``
    — then the target counts derive from the SAME (doc, bucket)
    pre-aggregate and the whole fit is ONE corpus pass; r15 opt).

    Scale shape: at most two tokenize passes — target (when a separate
    frame) once, raw once into a
    (doc, bucket) count pre-aggregate (bounded by n_docs × n_buckets;
    the bucket marginal and the per-doc weights both derive from it,
    so the raw bigram stream is never re-tokenized and never
    persisted). Each pass ends in a <= n_buckets-row aggregate or a
    broadcast join; the per-bucket log-ratio table is broadcast and
    the corpus totals are window sums over that bounded bucket table
    (no corpus shuffle before the per-doc aggregate); selection is
    one TakeOrderedAndProject. Docs with
    fewer than two tokens have no features and are not selected (the
    paper's featurization is undefined there).

    Returns (id_col, n_bigrams, logw, gkey) for the k selected docs,
    highest key first. Oracle discipline: per-bigram log-ratios
    accumulate as DECIMAL(38,6) (order-independent sum), emitted
    values round to 6; the ORDER BY key is the ROUNDED key with the
    id as tiebreaker, so selection is engine-exact.
    """
    from deeplake_spark.functions.text import tokenize
    from deeplake_spark.io import ensure_parallelism
    from deeplake_spark.operators.dedup import _md5_int60_sql

    def buckets(df: DataFrame, flag: Column | None = None) -> DataFrame:
        extra = [flag.alias("__tgt")] if flag is not None else []
        d = ensure_parallelism(df).select(
            F.col(id_col).alias("__doc"), tokenize(f"`{text_col}`").alias("__t"),
            *extra)
        n = F.size("__t") - 1
        keep = ["__tgt"] if flag is not None else []
        rows = (
            d.select(
                "__doc", "__t", *keep,
                F.explode_outer(
                    F.when(n >= 1, F.sequence(F.lit(1), n))).alias("__i"))
            .filter(F.col("__i").isNotNull())
        )
        bg = ("concat(element_at(__t, __i), ' ', "
              "element_at(__t, __i + 1))")
        return rows.select(
            "__doc", *keep,
            F.expr(f"{_md5_int60_sql(bg, seed)} % {int(n_buckets)}")
            .alias("__b"))

    # (doc, bucket) pre-aggregation (r15 opt): the raw corpus is
    # tokenized ONCE into per-doc bucket counts — the bucket marginal
    # re-aggregates it (Σ_doc c) and the weights lane multiplies by c
    # instead of summing per-occurrence rows, both value-identical
    # (integer counts; c·lr in DECIMAL(38,6) is exact, equal to
    # summing c copies). The former spelling re-ran the raw
    # tokenize+explode pass for each consumer (guide §2.4); the
    # pre-aggregate is bounded by n_docs × n_buckets — the hashed
    # featurization the DSIR paper stores anyway.
    # (r15 opt2, final-plan audit trap 18): the bucket marginals and
    # the two totals each used to be SEPARATE consumers of the
    # pre-aggregate; Catalyst inlines every DataFrame reference and
    # prunes each copy differently, so AQE reused only one exchange
    # and the EXECUTED plan re-ran the tokenize subtree up to 9×. A
    # `_track` persist fixed that read amplification but LOST in the
    # timed metric (interleaved ×5 A/B: 2.14 s recomputed vs 2.31 s
    # persisted — cache fill breaks pipelining; the t28 precedent).
    # Fixed structurally instead: ONE bucket-level aggregate carries
    # both marginals (plain + conditional sum), and the totals are
    # unpartitioned window sums OVER THE BUCKET TABLE — bounded by
    # n_buckets rows, never corpus data (trap 7 bans only data-sized
    # global windows) — so the whole fit is TWO tokenize passes
    # (weights join + bucket stats) in the executed plan.
    w_all = Window.partitionBy()
    if isinstance(target, Column):
        # predicate target: the target distribution is the flagged
        # subset of the SAME pre-aggregate — one corpus pass for the
        # fit. The flag is constant per row of `raw` (one row per
        # doc), so max() just carries it through the (doc, bucket)
        # aggregate. sum(when(__tgt, c)) equals the former
        # filter-then-aggregate per bucket (NULL exactly where the
        # bucket has no target rows — the buckets the former left
        # join left NULL), and window totals skip NULLs, so tt/lr are
        # value-identical to the join spelling.
        dbc = buckets(raw, flag=target).groupBy("__doc", "__b").agg(
            F.count(F.lit(1)).alias("__c"),
            F.max(F.coalesce("__tgt", F.lit(False))).alias("__tgt"))
        raw_dbc = dbc.select("__doc", "__b", "__c")
        bstats = (
            dbc.groupBy("__b").agg(
                F.sum("__c").alias("__cr"),
                F.sum(F.when(F.col("__tgt"), F.col("__c"))).alias("__ct"))
            .withColumn(
                "__tt", F.coalesce(F.sum("__ct").over(w_all), F.lit(0))))
    else:
        raw_dbc = buckets(raw).groupBy("__doc", "__b").agg(
            F.count(F.lit(1)).alias("__c"))
        tgt_c = buckets(target).groupBy("__b").agg(
            F.count(F.lit(1)).alias("__ct"))
        # the target total must count target-only buckets (they never
        # join ratio — a bucket absent from raw appears in no raw doc
        # — but they DO shift the target distribution), so it
        # aggregates the FULL target bucket table BEFORE the join.
        tgt_tot = tgt_c.agg(
            F.coalesce(F.sum("__ct"), F.lit(0)).alias("__tt"))
        bstats = (
            raw_dbc.groupBy("__b").agg(F.sum("__c").alias("__cr"))
            .join(tgt_c, "__b", "left")
            .crossJoin(F.broadcast(tgt_tot)))
    # coalesce: SUM over an EMPTY bucket table is NULL, which would
    # null every weight — with 0 the smoothed target distribution is
    # simply uniform (0.5/(0.5*B) per bucket), so an empty/featureless
    # target degrades to inverse-raw-frequency selection, not garbage.
    # The raw total is a window sum over bstats — one row per raw
    # bucket in BOTH lanes (the frame lane's left join keys on the
    # unique __b of a bucket aggregate) — so it equals the former
    # 1-row crossJoin total exactly.
    half_b = float(0.5 * n_buckets)
    ratio = bstats.select(
        "__b",
        (F.log((F.coalesce(F.col("__ct"), F.lit(0)) + F.lit(0.5))
               / (F.col("__tt") + F.lit(half_b)))
         - F.log((F.col("__cr") + F.lit(0.5))
                 / (F.coalesce(F.sum("__cr").over(w_all), F.lit(0))
                    + F.lit(half_b)))).alias("__lr"),
    )
    weights = (
        raw_dbc.join(F.broadcast(ratio), "__b")
        .groupBy("__doc")
        .agg(
            F.sum("__c").alias("n_bigrams"),
            F.sum(F.col("__c") * F.col("__lr").cast("decimal(38,6)"))
            .alias("__lw"),
        )
    )
    logw = F.col("__lw").cast("double")
    key = logw + gumbel_key("__doc", salt)
    return (
        weights.select(
            F.col("__doc").alias(id_col),
            "n_bigrams",
            F.round(logw, 6).alias("logw"),
            F.round(key, 6).alias("gkey"),
        )
        .orderBy(F.desc("gkey"), id_col)
        .limit(k)
    )


def cap_per_group(df: DataFrame, group_col: str, k: int,
                  id_col: str = "doc_id", salt: str = "cap",
                  buckets: int = 32) -> DataFrame:
    """Per-source cap — keep AT MOST ``k`` rows per group, drawn as a
    deterministic uniform sample without replacement (the seeded-
    reservoir equivalent): rows rank inside their group by the
    engine-portable md5 uniform (ties broken by id) and the k smallest
    survive. The training-pipeline "cap every source at N documents"
    step that `mixture_sample`'s fractions can't express: a fraction
    keeps fraction*size (one giant source still dominates), a cap
    keeps min(k, size). Same md5 primitive as assign_splits, so the
    selection is reproducible across engines/cluster sizes and
    append-stable UNTIL a group exceeds k (then new draws compete —
    a cap is inherently corpus-dependent, unlike a fraction).

    Scale shape — no single-task hot groups: a plain
    `row_number() OVER (PARTITION BY group)` puts a 10-billion-row
    source on ONE reducer, so selection runs in TWO bounded stages:
    per-(group, hash-bucket) local top-k (each partition holds
    ~size/buckets rows), then top-k over the <= buckets*k survivors
    per group. Both windows are partitioned; stage 2's partitions are
    bounded by buckets*k regardless of group size. The result is
    EXACTLY the k smallest (u, id) per group — identical rows to the
    single-window spelling the DuckDB oracle uses (top-k of a union
    of per-bucket top-ks is top-k)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    u = md5_uniform(id_col, salt)
    d = df.withColumn("__u", u).withColumn(
        "__b", F.pmod(F.hash(F.col(id_col)), F.lit(buckets)))
    w1 = Window.partitionBy(group_col, "__b").orderBy("__u", id_col)
    local = (d.withColumn("__r1", F.row_number().over(w1))
             .filter(F.col("__r1") <= k))
    w2 = Window.partitionBy(group_col).orderBy("__u", id_col)
    return (local.withColumn("__r2", F.row_number().over(w2))
            .filter(F.col("__r2") <= k)
            .drop("__u", "__b", "__r1", "__r2"))


def epoch_shuffle(df: DataFrame, id_col: str = "doc_id",
                  salt: str = "epoch0",
                  out_col: str = "epoch_rank") -> DataFrame:
    """Deterministic training-epoch permutation: attach a dense 0-based
    global rank drawn by the engine-portable md5 uniform (id tiebreak).
    Rotate ``salt`` per epoch for a fresh permutation; the same
    (corpus, salt) yields the same order on any cluster size, any run,
    any engine — the reproducible "shuffle the corpus between epochs"
    step of a training-data pipeline, without RNG state.

    Scale shape: a range-partitioned parallel sort + the partition-
    offset rank (io.with_row_id) — never an unpartitioned row_number
    window (CLAUDE.md trap 7); no task holds more than its partition."""
    from deeplake_spark.io import with_row_id

    d = df.withColumn("__u", md5_uniform(id_col, salt))
    return (with_row_id(d, order_by=["__u", id_col], col_name=out_col)
            .drop("__u"))


def class_balance(df: DataFrame, label_col: str, id_col: str = "doc_id",
                  salt: str = "balance",
                  target: int | None = None) -> DataFrame:
    """Class-balanced downsampling — the classifier-training prep step:
    every label keeps the SAME number of rows (`target` if given, else
    the minority class's count), selected deterministically by the
    engine-portable md5 uniform over the id (the mixture_sample hash:
    reproducible across engines and cluster sizes; engine-exact, so the
    kept SET is oracle-checkable, not just the counts). NULL labels
    carry no class and are dropped.

    Shapes (r15 review — the cap_per_group discipline, not a plain
    label-partitioned window that funnels HALF a binary-labeled
    100 TB corpus through one reducer): selection runs in the same
    TWO bounded window stages as :func:`cap_per_group` — per-(label,
    hash-bucket) local top-k, then top-k over the survivors — so a
    majority class prunes to <= buckets*k rows before any single
    partition sees it (top-k of per-bucket top-ks IS the global
    top-k; the kept set is identical to the single-window spelling
    the oracle uses). The minority count arrives as a broadcast
    1-row aggregate INSIDE the plan — no driver-side count (trap 8).
    When k is the minority count itself (a near-balanced corpus),
    stage 2 carries ~k rows per label, which is the OUTPUT size — an
    exact rank-based selection can't do better; the win is the
    majority-class prune."""
    base = df.filter(F.col(label_col).isNotNull())
    if target is not None:
        return cap_per_group(base, label_col, int(target),
                             id_col=id_col, salt=salt)
    tmin = (base.groupBy(label_col).agg(F.count(F.lit(1)).alias("__n"))
            .agg(F.min("__n").alias("__t")))
    d = (base.withColumn("__u", md5_uniform(id_col, salt))
         .withColumn("__b", F.pmod(F.hash(F.col(id_col)), F.lit(32)))
         .crossJoin(F.broadcast(tmin)))
    w1 = Window.partitionBy(label_col, "__b").orderBy("__u", id_col)
    local = (d.withColumn("__r1", F.row_number().over(w1))
             .filter(F.col("__r1") <= F.col("__t")))
    w2 = Window.partitionBy(label_col).orderBy("__u", id_col)
    return (local.withColumn("__r2", F.row_number().over(w2))
            .filter(F.col("__r2") <= F.col("__t"))
            .drop("__u", "__b", "__r1", "__r2", "__t"))
