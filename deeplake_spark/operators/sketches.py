"""Engine-portable set sketches: k-minimum-values (KMV) for
cardinality/overlap, Bloom filters for membership — both hashed with
the repo's md5-int60 convention so every bit is deterministic and
exactly reproducible in DuckDB.

A KMV sketch keeps the k smallest uniform hashes of a value stream;
the k-th smallest u_k estimates distinct count as (k-1)/u_k (Bar-Yossef
et al. 2002), and sketches MERGE by keeping the k smallest of a union —
the bounded-size, mergeable distinct-count primitive a 100 TB pipeline
needs for vocab sizes, dedup-rate estimates, and cross-source overlap,
where COUNT(DISTINCT) means shuffling every distinct value.

Unlike Spark's builtin approx_count_distinct (HLL++, engine-private
hashing), this sketch hashes with the repo's md5-int60 convention
(operators.dedup._md5_int60), so every estimate is DETERMINISTIC and
exactly reproducible in DuckDB — oracle-checkable to the hash.

Scale shape: sketch build shuffles (group, distinct hash) once and
takes the per-group k smallest through a partitioned WindowGroupLimit
(rank <= k never materializes a group's full sort output); sketches
persist as arrays of <= k doubles (~8k bytes at k=1024) and merge as a
pure array expression — incremental maintenance appends a delta
sketch and re-merges, no corpus re-read.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from deeplake_spark import memo

#: hash domain: md5-int60 values normalized by 2^60 into [0, 1)
_DOM = float(1 << 60)


def kmv_sketch(df: DataFrame, col: str, by: list[str] | None = None,
               k: int = 64, seed: int = 0) -> DataFrame:
    """Per-group KMV sketch of ``col``: the k smallest distinct
    normalized hashes, sorted ascending. Returns the grouping columns
    plus ``sketch`` (array<double>, length <= k), ``k`` and ``seed``
    (the build parameters, persisted with the sketch so the read-side
    helpers can never be fed a mismatch — a sketch built at k=32 read
    at k=64 would silently return size-as-exact, and hashes drawn
    under different seeds are different hash FUNCTIONS: merging them
    silently biases every estimate; r15 review — KMV was the one
    sibling that didn't persist its hash geometry)."""
    from deeplake_spark.io import ensure_parallelism
    from deeplake_spark.operators.dedup import _md5_int60

    by = list(by or [])
    df = ensure_parallelism(df)  # per-row md5 work (perf trap 1)
    u = (_md5_int60(F.col(col), seed) / F.lit(_DOM)).alias("__u")
    # NULL values hash to NULL, which sorts FIRST (asc nulls-first) and
    # would steal a top-k slot that collect_list then drops — silently
    # shrinking the sketch and biasing the estimate; NULL is not a set
    # member, so drop it before ranking
    hashes = df.select(*by, u).filter(F.col("__u").isNotNull()).distinct()
    if not by:
        # global sketch: k smallest via TakeOrderedAndProject — an
        # empty partitionBy would be the banned single-task global
        # window (perf trap 7)
        topk = hashes.orderBy("__u").limit(k)
        return (topk.agg(F.array_sort(F.collect_list("__u")).alias("sketch"))
                .withColumn("k", F.lit(int(k)))
                .withColumn("seed", F.lit(int(seed))))
    w = Window.partitionBy(*[F.col(c) for c in by]).orderBy("__u")
    topk = (hashes.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") <= k))
    return (topk.groupBy(*by)
            .agg(F.array_sort(F.collect_list("__u")).alias("sketch"))
            .withColumn("k", F.lit(int(k)))
            .withColumn("seed", F.lit(int(seed))))


def _k_col(k: int | Column) -> Column:
    """Read-side k: REQUIRED (no default — a k differing from the build
    k silently biases every estimate; the build k travels in the
    sketch table's ``k`` column, pass ``F.col("k")`` when reading a
    persisted table)."""
    return k if isinstance(k, Column) else F.lit(int(k))


def kmv_estimate(sketch: Column | str, k: int | Column) -> Column:
    """Distinct-count estimate from a KMV sketch column: exact
    cardinality while the sketch is not full (fewer than k distinct
    values seen), else (k-1)/u_k. ``k`` must be the BUILD k — pass the
    persisted ``k`` column (``F.col("k")``) or the same literal used at
    build time."""
    if isinstance(sketch, str) and not isinstance(k, Column):
        # one parsed expr (trap 12); tree-identical to the Column path
        return F.expr(
            f"CASE WHEN size({sketch}) < {int(k)} THEN "
            f"cast(size({sketch}) as double) "
            f"ELSE cast(({int(k)} - 1) as double) / "
            f"nullif(element_at({sketch}, {int(k)}), cast(0.0 as double)) "
            "END")
    kc = _k_col(k)
    n = F.size(sketch)
    full = ((kc - F.lit(1)).cast("double")
            / F.nullif(F.element_at(sketch, kc), F.lit(0.0)))
    return F.when(n < kc, n.cast("double")).otherwise(full)


def kmv_merge(a: Column, b: Column, k: int | Column) -> Column:
    """Union of two KMV sketches: the k smallest of the combined
    distinct hashes — the mergeability that makes the sketch usable
    across partitions, datasets, and incremental deltas. Merge only
    same-k sketches (``k`` = their shared build k)."""
    return F.slice(F.array_sort(F.array_distinct(F.concat(a, b))),
                   F.lit(1), _k_col(k))


def kmv_jaccard(a: Column | str, b: Column | str, k: int | Column) -> Column:
    """Jaccard-similarity estimate between the SETS two KMV sketches
    summarize (Beyer et al. 2007): over the merged sketch (the k
    smallest union hashes — an unbiased sample of the union), the
    fraction present in BOTH inputs estimates |A∩B|/|A∪B|. Pure array
    expression — cross-source overlap grids cost sketch-pairs, not
    token-set joins."""
    if isinstance(a, str) and isinstance(b, str) and not isinstance(k, Column):
        m = (f"slice(array_sort(array_distinct(concat({a}, {b}))), "
             f"1, {int(k)})")
        return F.expr(
            f"cast(size(array_intersect(array_intersect({m}, {a}), {b})) "
            f"as double) / nullif(cast(size({m}) as double), "
            "cast(0.0 as double))")
    m = kmv_merge(a, b, k)
    both = F.size(F.array_intersect(F.array_intersect(m, a), b))
    return both.cast("double") / F.nullif(F.size(m).cast("double"), F.lit(0.0))


def save_sketch(sketches: DataFrame, path: str) -> None:
    """Persist per-group sketches of any kind (grouping columns + the
    sketch payload + its build params) as a tiny side table — the
    build-at-ingest protocol the indexes follow, through their one
    write (indexes.write_side_table): a reader sees the old sketch or
    the new one, never a mix, and a plan loaded before a save stays
    executable across it but not across the next — re-call
    load_sketch after each append for long-lived handles."""
    from deeplake_spark.operators.indexes import write_side_table

    write_side_table(path, {"sketch": (sketches, None)},
                     lambda old, staged: {})


def load_sketch(spark, path: str) -> DataFrame:
    """The sketch table its newest manifest lists (save_sketch)."""
    return memo.side_table(spark, path, "sketch")


def sample_sketch(df: DataFrame, value_col: str, id_col: str,
                  by: list[str] | None = None, k: int = 256,
                  salt: str = "q") -> DataFrame:
    """Bottom-k uniform row sample (coordinated sampling, Cohen &
    Kaplan 2007): keep the k rows whose md5-uniform(id # salt) hashes
    are smallest, storing (u, v) pairs sorted by u — a DETERMINISTIC
    uniform sample of the rows, and therefore a mergeable quantile/
    distribution sketch: quantiles of the sample estimate corpus
    quantiles within ~1/sqrt(k), and two sketches over DISJOINT row
    sets merge by keeping the k smallest of the union (exactly the
    sketch a fresh build over the union would produce — the KMV
    argument, pinned in tests). The KMV sibling counts distinct
    VALUES; this one samples ROWS, so it carries any per-row value
    distribution (lengths, scores, token counts) to quantile queries
    that never re-touch the corpus.

    Same build shape as kmv_sketch: global lane = TakeOrderedAndProject
    (no single-task global window), grouped lane = partitioned
    WindowGroupLimit. NULL values are excluded (a NULL carries no
    distribution information; NULL ids hash to NULL and are likewise
    dropped). ``k`` persists with the sketch; merge helpers require it."""
    from deeplake_spark.io import ensure_parallelism
    from deeplake_spark.operators.dedup import _md5_int60

    by = list(by or [])
    df = ensure_parallelism(df)  # per-row md5 work (perf trap 1)
    # hash the SALTED id (rotate the salt to draw an independent sample)
    u = (_md5_int60(F.concat(F.col(id_col).cast("string"),
                             F.lit(f"|{salt}")), 0) / F.lit(_DOM))
    # try_cast, not cast: ANSI mode is on — one non-numeric string in
    # a string-typed value column must drop through the isNotNull
    # filter, not kill the build job (r15 review)
    base = (df.select(*by, u.alias("__u"),
                      F.col(value_col).try_cast("double").alias("__v"))
            .filter(F.col("__u").isNotNull() & F.col("__v").isNotNull()))
    # (__u, __v) ordering, not __u alone: duplicate ids tie on __u
    # with different __v, and an untied LIMIT picks the winner by
    # partition order — nondeterministic builds that break the
    # merge == fresh-build law (r15 review; CLAUDE.md: every LIMIT
    # needs a deterministic tiebreaker). Struct array_sort in the
    # merge helpers orders by (u, v) too, so build and merge agree.
    if not by:
        topk = base.orderBy("__u", "__v").limit(int(k))
        agged = topk.agg(
            F.array_sort(F.collect_list(F.struct("__u", "__v")))
            .alias("sample"))
    else:
        w = Window.partitionBy(*[F.col(c) for c in by]) \
            .orderBy("__u", "__v")
        topk = (base.withColumn("__r", F.row_number().over(w))
                .filter(F.col("__r") <= int(k)))
        agged = (topk.groupBy(*by)
                 .agg(F.array_sort(F.collect_list(F.struct("__u", "__v")))
                      .alias("sample")))
    # the salt persists with the sketch (like bloom's geometry): two
    # samples drawn under different salts are NOT coordinated and must
    # never merge — append_sample_delta guards on it
    return (agged.withColumn("k", F.lit(int(k)))
            .withColumn("salt", F.lit(str(salt))))


def sample_merge(a: Column, b: Column, k: int | Column) -> Column:
    """Union of two bottom-k row samples over DISJOINT row sets (shards,
    append deltas): the k hash-smallest of the combined pairs — equals
    a fresh build over the union exactly. Overlapping row sets would
    double-count only if the same id carried DIFFERENT values;
    identical (u, v) pairs dedupe."""
    return F.slice(F.array_sort(F.array_distinct(F.concat(a, b))),
                   F.lit(1), _k_col(k))


def sample_quantile(sample: Column, q: float) -> Column:
    """Nearest-rank quantile estimate from a bottom-k sample column:
    sort the sampled VALUES and take element ceil(q * n) (1-indexed) —
    deterministic and replicated verbatim in DuckDB oracles (no
    interpolation: an interpolated boundary is an engine-rounding
    hazard the estimate's ~1/sqrt(k) error cannot justify). An EMPTY
    sample (all-NULL value column) estimates NULL — try_element_at,
    not element_at: ANSI mode throws on index 1 of []."""
    vs = F.array_sort(F.transform(sample, lambda s: s["__v"]))
    n = F.size(vs)
    idx = F.greatest(F.lit(1), F.ceil(F.lit(float(q)) * n).cast("int"))
    return F.try_element_at(vs, idx)


def append_sample_delta(df_new: DataFrame, value_col: str, id_col: str,
                        path: str, by: list[str] | None = None,
                        k: int = 256, salt: str = "q") -> None:
    """Incremental sample maintenance: sketch ONLY the appended rows
    (append-only ingest keeps row ids disjoint from the stored
    sketch's), merge per group, save the merged table — equals a
    fresh full build exactly. Raises when (k, salt) differ from the
    stored build params: a k-slice of a k'-sample is not a uniform
    sample, and samples drawn under different salts are not
    coordinated — merging them silently breaks the merge == fresh-build
    law."""
    by = list(by or [])
    spark = df_new.sparkSession
    delta = sample_sketch(df_new, value_col, id_col, by=by, k=k, salt=salt)
    old = load_sketch(spark, path)
    sel = ["k"] + (["salt"] if "salt" in old.columns else [])
    stored = [tuple(r) for r in old.select(*sel).distinct().collect()]
    want = (int(k),) + ((str(salt),) if len(sel) == 2 else ())
    if stored and stored != [want]:
        raise ValueError(
            f"stored samples at {path} were built with (k, salt)="
            f"{stored}, got {want} — pass the build params")
    if not by:
        merged = (old.select(F.col("sample").alias("__a"))
                  .crossJoin(delta.select(F.col("sample").alias("__b")))
                  .select(sample_merge(F.col("__a"), F.col("__b"), k)
                          .alias("sample")))
    else:
        a = old.select(*by, F.col("sample").alias("__a"))
        b = delta.select(*by, F.col("sample").alias("__b"))
        empty = F.array().cast("array<struct<__u:double,__v:double>>")
        merged = (
            a.join(b, by, "full_outer")
            .select(*by, sample_merge(
                F.coalesce(F.col("__a"), empty),
                F.coalesce(F.col("__b"), empty), k).alias("sample"))
        )
    save_sketch(merged.withColumn("k", F.lit(int(k)))
                .withColumn("salt", F.lit(str(salt))), path)


def cm_sketch(df: DataFrame, col: str, by: list[str] | None = None,
              d: int = 4, w: int = 1024, seed: int = 0,
              weight_col: str | None = None) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) over ``col``
    occurrences: ``d`` rows of ``w`` counters, cell (j, md5_int60(v,
    seed+j) % w) accumulates every occurrence of v; a point estimate is
    the MIN over the d cells — an overestimate, never an under. The
    frequency member of the sketch family (KMV = how many distinct,
    Bloom = have we seen it, sample = how are values distributed,
    CM = how OFTEN) — deterministic like its siblings, so estimates are
    exactly oracle-checkable, and ADDITIVE: merge is cell-wise sum and
    a delta append equals a fresh full build exactly (not just
    distributionally — counts add).

    Stored flat: array<bigint> of length d*w, cell (j, c) at index
    j*w + c (32 KB at the defaults). Build = one (group, cell) shuffle
    with map-side partial counts; dense assembly by zero-skeleton join
    (trap 25 — never an element_at(map) transform).

    ``weight_col``: each row contributes that many occurrences of its
    value (cells accumulate SUM(weight) instead of COUNT) — counts are
    additive, so a build over pre-aggregated (value, count) rows equals
    the build over the raw occurrence stream cell-for-cell (pinned in
    tests/test_operators.py). Lets a caller that already holds a
    value-count aggregate (t44) skip a second corpus pass."""
    from deeplake_spark.io import ensure_parallelism
    from deeplake_spark.operators.dedup import _md5_int60_sql

    by = list(by or [])
    df = ensure_parallelism(df)  # d md5s per row (perf trap 1)
    v = F.col(col)
    # one expr string for the d-term cell array (trap 12)
    cells = F.expr("array(" + ", ".join(
        f"{int(j * w)} + {_md5_int60_sql(f'`{col}`', seed + j)} % {int(w)}"
        for j in range(int(d))) + ")")
    keep = [weight_col] if weight_col is not None else []
    rows = (df.select(*by, *keep,
                      F.explode_outer(F.when(v.isNotNull(), cells))
                      .alias("__cell"))
            .filter(F.col("__cell").isNotNull())
            .select(*by, *keep, F.col("__cell").cast("int").alias("__cell")))
    occ = (F.count(F.lit(1)) if weight_col is None
           else F.sum(F.col(weight_col).cast("long")))
    agg = rows.groupBy(*by, "__cell").agg(occ.alias("__n"))
    spark = df.sparkSession
    skel = spark.range(int(d * w)).select(
        F.col("id").cast("int").alias("__cell"))
    if by:
        skel = df.select(*by).distinct().crossJoin(skel)
    full = skel.join(agg, [*by, "__cell"], "left").select(
        *by, "__cell",
        F.coalesce(F.col("__n"), F.lit(0).cast("long")).alias("__n"))
    perg = (full.groupBy(*by) if by else full.groupBy()).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("__cell", "__n"))),
            lambda s: s["__n"]).alias("cm"))
    return perg.select(
        *by, "cm",
        F.lit(int(d)).alias("d"), F.lit(int(w)).alias("w"),
        F.lit(int(seed)).alias("seed"))


def cm_estimate(cm: Column | str, value: Column | str, d: int, w: int,
                seed: int = 0) -> Column:
    """Point-frequency estimate: min over the d cells — NEVER an
    underestimate; overestimates bounded by the corpus size / w per
    row with probability 1 - 2^-d. ``d``/``w``/``seed`` must be the
    build geometry (persisted in the sketch table).

    Pass BOTH args as SQL-fragment strings on construction-hot paths
    (one F.expr instead of ~12 py4j round trips per cell; trap 12)."""
    from deeplake_spark.operators.dedup import _md5_int60, _md5_int60_sql

    if isinstance(cm, str) and isinstance(value, str):
        expr = None
        for j in range(int(d)):
            cell = (f"element_at({cm}, cast({int(j * w)} + "
                    f"{_md5_int60_sql(value, seed + j)} % {int(w)} "
                    f"+ 1 as int))")
            # binary-nested least, matching the Column path's tree
            expr = cell if expr is None else f"least({expr}, {cell})"
        return F.expr(expr)
    out = None
    for j in range(int(d)):
        idx = (F.lit(int(j * w)) + _md5_int60(value, seed + j)
               % F.lit(int(w)) + F.lit(1)).cast("int")
        cell = F.element_at(cm, idx)
        out = cell if out is None else F.least(out, cell)
    return out


def cm_merge(a: Column, b: Column) -> Column:
    """Union of two same-geometry CM sketches: cell-wise SUM — exact
    (counts are additive), so merge(build(A), build(B)) == build(A++B)
    cell-for-cell."""
    return F.zip_with(a, b, lambda x, y: x + y)


def append_cm_delta(df_new: DataFrame, col: str, path: str,
                    by: list[str] | None = None, d: int = 4,
                    w: int = 1024, seed: int = 0) -> None:
    """Incremental CM maintenance: sketch ONLY the appended rows,
    cell-wise add per group, save — equals a fresh full build
    cell-for-cell. Raises on a geometry mismatch."""
    by = list(by or [])
    spark = df_new.sparkSession
    delta = cm_sketch(df_new, col, by=by, d=d, w=w, seed=seed)
    old = load_sketch(spark, path)
    stored = [tuple(r) for r in
              old.select("d", "w", "seed").distinct().collect()]
    want = (int(d), int(w), int(seed))
    if stored and stored != [want]:
        raise ValueError(
            f"stored CM sketches at {path} were built with (d, w, seed)="
            f"{stored}, got {want} — pass the build geometry")
    geom = [F.lit(int(d)).alias("d"), F.lit(int(w)).alias("w"),
            F.lit(int(seed)).alias("seed")]
    if not by:
        merged = (old.select(F.col("cm").alias("__a"))
                  .crossJoin(delta.select(F.col("cm").alias("__b")))
                  .select(cm_merge(F.col("__a"), F.col("__b"))
                          .alias("cm"), *geom))
    else:
        a = old.select(*by, F.col("cm").alias("__a"))
        b = delta.select(*by, F.col("cm").alias("__b"))
        empty = F.array_repeat(F.lit(0).cast("long"), int(d * w))
        merged = (
            a.join(b, by, "full_outer")
            .select(*by, cm_merge(
                F.coalesce(F.col("__a"), empty),
                F.coalesce(F.col("__b"), empty)).alias("cm"), *geom)
        )
    save_sketch(merged, path)


#: Bloom words pack 60 bits each — every shift stays <= 59, which both
#: Spark (shiftleft on 1L) and DuckDB (1::BIGINT << b) evaluate
#: identically with no sign-bit edge, keeping the sketch engine-portable
#: the way the 15-hex-digit md5 hash is.
_BLOOM_BITS_PER_WORD = 60


def _bloom_m(n_words: int) -> int:
    return int(n_words) * _BLOOM_BITS_PER_WORD


def bloom_sketch(df: DataFrame, col: str, by: list[str] | None = None,
                 n_words: int = 256, k_hashes: int = 5,
                 seed: int = 0) -> DataFrame:
    """Per-group Bloom filter over ``col`` (a STRING column — digest the
    value first, the d01 convention): ``bloom`` is an array<bigint> of
    exactly ``n_words`` words, 60 bits used per word, bit positions
    md5_int60(value, seed+j) % m for j in [0, k_hashes) — deterministic
    and exactly reproducible in DuckDB, like every sketch here. The
    KMV sibling answers "how many distinct"; the Bloom answers "have we
    seen THIS one" with no false negatives — the ingest-admission /
    incremental-dedup primitive: probe a KB-scale side table instead of
    joining new arrivals against the 100 TB corpus (false positives go
    to exact verification, the LSH-candidate convention).

    Scale shape: no distinct pass (bit-OR is idempotent) — mappers emit
    k positions per row, partial bit_or combines map-side, and the ONE
    shuffle carries <= mappers * n_words * groups rows regardless of
    corpus size. Build params persist in the output (``n_words``,
    ``k_hashes``, ``seed``) so the read side can never probe with
    mismatched geometry."""
    from deeplake_spark.io import ensure_parallelism
    from deeplake_spark.operators.dedup import _md5_int60_sql

    by = list(by or [])
    df = ensure_parallelism(df)  # k_hashes md5s per row (perf trap 1)
    m = _bloom_m(n_words)
    v = F.col(col)
    # one expr string for the k-term position array (trap 12; tree
    # identical to the F.array/_md5_int60 chain — canon-plan pinned)
    pos_arr = F.expr("array(" + ", ".join(
        f"{_md5_int60_sql(f'`{col}`', seed + j)} % {int(m)}"
        for j in range(int(k_hashes))) + ")")
    rows = (df.select(*by, F.explode_outer(F.when(v.isNotNull(), pos_arr))
                      .alias("__pos"))
            .filter(F.col("__pos").isNotNull()))
    words = rows.select(
        *by,
        F.floor(F.col("__pos") / F.lit(_BLOOM_BITS_PER_WORD))
        .cast("int").alias("__wd"),
        # F.shiftleft only takes a LITERAL shift — spell the column-shift
        # in SQL (60-bit words keep the shift <= 59, no sign-bit edge)
        F.expr(f"shiftleft(1L, CAST(__pos % {_BLOOM_BITS_PER_WORD} "
               "AS INT))").alias("__mask"))
    agg = words.groupBy(*by, "__wd").agg(F.bit_or("__mask").alias("__bits"))
    # dense-array assembly via a zero-word skeleton join, NOT
    # element_at(map): Spark maps are arrays with LINEAR-scan lookup, so
    # a map-backed n_words-element transform is O(n_words²) — measured
    # 300 s at n_words=64k where this spelling takes the sort's
    # n log n (the round-12 bloom-economics probe caught it)
    spark = df.sparkSession
    skel = spark.range(int(n_words)).select(
        F.col("id").cast("int").alias("__wd"))
    if by:
        skel = df.select(*by).distinct().crossJoin(skel)
    full = skel.join(agg, [*by, "__wd"], "left").select(
        *by, "__wd",
        F.coalesce(F.col("__bits"), F.lit(0).cast("long")).alias("__bits"))
    perg = (full.groupBy(*by) if by else full.groupBy()).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("__wd", "__bits"))),
            lambda s: s["__bits"]).alias("bloom"))
    return perg.select(
        *by,
        "bloom",
        F.lit(int(n_words)).alias("n_words"),
        F.lit(int(k_hashes)).alias("k_hashes"),
        F.lit(int(seed)).alias("seed"))


def bloom_contains(bloom: Column | str, value: Column | str, n_words: int,
                   k_hashes: int, seed: int = 0) -> Column:
    """Membership test against a Bloom column: true iff every one of the
    k bits is set. NO false negatives by construction; a true result is
    a CANDIDATE (verify exactly where it matters, as with LSH
    candidates). ``n_words``/``k_hashes``/``seed`` must be the build
    geometry (persisted in the sketch table).

    Pass BOTH args as column-name/SQL-fragment strings on
    construction-hot paths: the k-term conjunction then builds as one
    F.expr (~1 py4j round trip) instead of ~15 per hash term (trap 12;
    tree equality with the Column path pinned in tests)."""
    from deeplake_spark.operators.dedup import _md5_int60, _md5_int60_sql

    m = _bloom_m(n_words)
    if isinstance(bloom, str) and isinstance(value, str):
        terms = []
        for j in range(int(k_hashes)):
            pos = f"{_md5_int60_sql(value, seed + j)} % {int(m)}"
            wd = f"cast(floor(({pos}) / {_BLOOM_BITS_PER_WORD}) as int)"
            bit = f"cast(({pos}) % {_BLOOM_BITS_PER_WORD} as int)"
            terms.append(
                f"(bit_get(element_at({bloom}, {wd} + 1), {bit}) = 1)")
        return F.expr(" AND ".join(terms))
    out = None
    for j in range(int(k_hashes)):
        pos = _md5_int60(value, seed + j) % F.lit(m)
        wd = F.floor(pos / F.lit(_BLOOM_BITS_PER_WORD)).cast("int")
        bit = (pos % _BLOOM_BITS_PER_WORD).cast("int")
        term = F.bit_get(F.element_at(bloom, wd + F.lit(1)), bit) == 1
        out = term if out is None else (out & term)
    return out


def bloom_merge(a: Column, b: Column) -> Column:
    """Union of two same-geometry Bloom filters: element-wise OR — a
    pure array expression, so sketches merge across partitions,
    datasets, and incremental deltas without touching corpus rows.
    merge(build(A), build(B)) == build(A ∪ B) EXACTLY (bit-OR is
    idempotent and commutative; pinned in tests)."""
    return F.zip_with(a, b, lambda x, y: x.bitwiseOR(y))


def bloom_fill(bloom: Column, n_words: int, k_hashes: int) -> Column:
    """Observed false-positive rate estimate: (set_bits / m) ^ k — the
    fraction of bits set is exactly the probability one probe bit lands
    on a set bit. Deterministic (a pure expression over the sketch);
    use it to decide when a filter is saturated and needs a rebuild at
    larger ``n_words``."""
    m = float(_bloom_m(n_words))
    setbits = F.aggregate(
        bloom, F.lit(0).cast("long"),
        lambda acc, w: acc + F.bit_count(w))
    return F.pow(setbits.cast("double") / F.lit(m), F.lit(int(k_hashes)))


def append_bloom_delta(df_new: DataFrame, col: str, path: str,
                       by: list[str] | None = None, n_words: int = 256,
                       k_hashes: int = 5, seed: int = 0) -> None:
    """Incremental Bloom maintenance: sketch ONLY the appended rows,
    OR-merge with the stored filters per group, save the merged
    table. Equals a fresh full-corpus build bit-for-bit (tests pin it).
    Raises when the geometry differs from the persisted build params —
    positions from a different (n_words, k_hashes, seed) land on
    different bits and the merged filter would silently lose its
    no-false-negative guarantee."""
    by = list(by or [])
    spark = df_new.sparkSession
    delta = bloom_sketch(df_new, col, by=by, n_words=n_words,
                         k_hashes=k_hashes, seed=seed)
    old = load_sketch(spark, path)
    stored = [tuple(r) for r in
              old.select("n_words", "k_hashes", "seed").distinct().collect()]
    want = (int(n_words), int(k_hashes), int(seed))
    if stored and stored != [want]:
        raise ValueError(
            f"stored Bloom filters at {path} were built with "
            f"(n_words, k_hashes, seed)={stored}, got {want} — "
            "pass the build geometry")
    geom = [F.lit(int(n_words)).alias("n_words"),
            F.lit(int(k_hashes)).alias("k_hashes"),
            F.lit(int(seed)).alias("seed")]
    if not by:
        merged = (old.select(F.col("bloom").alias("__a"))
                  .crossJoin(delta.select(F.col("bloom").alias("__b")))
                  .select(bloom_merge(F.col("__a"), F.col("__b"))
                          .alias("bloom"), *geom))
    else:
        a = old.select(*by, F.col("bloom").alias("__a"))
        b = delta.select(*by, F.col("bloom").alias("__b"))
        empty = F.array_repeat(F.lit(0).cast("long"), int(n_words))
        merged = (
            a.join(b, by, "full_outer")
            .select(*by, bloom_merge(
                F.coalesce(F.col("__a"), empty),
                F.coalesce(F.col("__b"), empty)).alias("bloom"), *geom)
        )
    save_sketch(merged, path)


def append_kmv_delta(df_new: DataFrame, col: str, path: str,
                     by: list[str] | None = None, k: int = 64,
                     seed: int = 0) -> None:
    """Incremental sketch maintenance: sketch ONLY the appended rows,
    merge with the stored sketches per group (full outer join +
    ``kmv_merge``; a group missing on either side contributes an empty
    sketch), save the merged table. Because merge == sketch-of-union
    hash-exactly (pinned in tests), the maintained sketch equals a
    fresh build over the full corpus — without re-reading it. The
    join touches <= groups x k doubles, never corpus rows. Raises when
    ``k`` differs from the side table's persisted build k — merging
    across k would keep a k'-slice of a k-sketch, silently biasing
    every later estimate."""
    by = list(by or [])
    spark = df_new.sparkSession
    delta = kmv_sketch(df_new, col, by=by, k=k, seed=seed)
    old = load_sketch(spark, path)
    if "k" in old.columns:
        # tiny side table: one bounded job over <= groups rows.
        # Seed belongs to the geometry too (r15 review): hashes drawn
        # under different seeds are different hash FUNCTIONS — a
        # mismatched-seed merge silently biases every later estimate.
        # Tables saved before the seed column existed were built under
        # the default seed 0 (the only build path then).
        sel = ["k"] + (["seed"] if "seed" in old.columns else [])
        stored = [tuple(r) for r in old.select(*sel).distinct().collect()]
        want = (int(k),) + ((int(seed),) if len(sel) == 2 else ())
        if len(sel) == 1 and int(seed) != 0 and stored:
            raise ValueError(
                f"stored KMV sketches at {path} predate the persisted "
                f"seed (built at seed=0); got seed={seed} — rebuild "
                "the sketch to use a non-default seed")
        if stored and stored != [want]:
            raise ValueError(
                f"stored KMV sketches at {path} were built with "
                f"(k, seed)={stored}, got {want} — pass the build "
                "params")
    if not by:
        merged = (old.select(F.col("sketch").alias("__a"))
                  .crossJoin(delta.select(F.col("sketch").alias("__b")))
                  .select(kmv_merge(F.col("__a"), F.col("__b"), k)
                          .alias("sketch")))
    else:
        a = old.select(*by, F.col("sketch").alias("__a"))
        b = delta.select(*by, F.col("sketch").alias("__b"))
        empty = F.array().cast("array<double>")
        merged = (
            a.join(b, by, "full_outer")
            .select(*by, kmv_merge(
                F.coalesce(F.col("__a"), empty),
                F.coalesce(F.col("__b"), empty), k).alias("sketch"))
        )
    save_sketch(merged.withColumn("k", F.lit(int(k)))
                .withColumn("seed", F.lit(int(seed))), path)
