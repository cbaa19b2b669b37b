"""Streaming near-duplicate detection — MinHash-LSH over a document
stream (beyond-reference: the reference's dedup surface is batch-only;
a live ingestion pipeline needs the same banding incrementally).

Shape: the STATELESS stages are literally the batch operators — the
signature (`operators.dedup.minhash_signatures`'s parsed expression)
and the band explode run unchanged on a readStream, exactly like
`assign_splits`/`mixture_sample` (tests prove batch/stream equality
for those too). Only the bucket membership is stateful: one
`applyInPandasWithState` keyed by (band, band-hash) keeps the bucket's
(doc_id, signature) set and emits a candidate pair the moment a new
document lands in a bucket that already holds others — work stays
proportional to true collisions at any stream rate, the same
guarantee as the batch bucket-join.

Verification is signature-based (estimated Jaccard = matching
signature components / num_perm): the datasketch/streaming-dedup
convention, because exact verification would require carrying every
document's shingle set in state. The estimate is unbiased with
std ≈ 1/sqrt(num_perm); callers wanting exact verification join the
emitted candidates back to the corpus offline (the batch
`minhash_dedup_pairs` shape).

State is bounded: `bucket_cap` docs per bucket (a degenerate bucket —
e.g. an empty-text signature — stops accepting members but keeps
emitting nothing, mirroring the batch bucket_cap drop), and signatures
are fixed num_perm int64s, so per-key state is O(bucket_cap*num_perm).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_near_dup_candidates(docs, text_col: str = "text",
                               id_col: str = "doc_id", n: int = 3,
                               num_perm: int = 32, bands: int = 8,
                               threshold: float = 0.5,
                               bucket_cap: int = 64) -> DataFrame:
    """Candidate near-dup pairs over a (possibly streaming) documents
    DataFrame: (a, b, est_jaccard) with a < b, one row per (band,
    bucket) collision — dedupe across bands downstream if a unique
    pair set is needed (the batch path's `.distinct()`).

    STATE SCHEMA CHANGED in r15 (the post-cap `seen` ledger was
    added): a checkpoint written by the previous schema fails Spark's
    state-store compatibility check at restart — loud, not silent;
    resume such streams from a fresh checkpoint (Spark has no state
    migration path for applyInPandasWithState).
    """
    import pandas as pd

    from deeplake_spark.functions.text import tokenize, word_shingles
    from deeplake_spark.operators.dedup import minhash_signatures

    rows = num_perm // bands
    sets = docs.select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(word_shingles(tokenize(f"`{text_col}`"), n))
        .alias("shingles"),
    ).filter(F.size("shingles") > 0)  # empty set = all-NULL signature
    sigs = minhash_signatures(sets, num_perm)
    band_sql = ",".join(
        f"hash(cast(cast(slice(sig, {b * rows + 1}, {rows}) "
        "as array<string>) as string))"
        for b in range(bands))
    banded = sigs.select(
        "doc_id", "sig",
        F.posexplode(F.expr(f"array({band_sql})")).alias("band", "bh"),
    )

    out_schema = "band int, a bigint, b bigint, est_jaccard double"
    # `seen` = the bits twin's POST-CAP replay ledger (r15 streaming
    # review — this lane lacked it): a doc arriving at a full bucket
    # emits its pairs against the stored members ONCE but isn't a
    # member, so without a record a micro-batch replay would pass the
    # membership check and RE-EMIT identical (a, b, est) rows into an
    # append sink. Bounded FIFO (8× bucket_cap) — replays land within
    # the engine's recent-batch horizon; see stream_bits_near_dup.
    state_schema = ("ids array<bigint>, sigs array<array<bigint>>, "
                    "seen array<bigint>")
    seen_cap = 8 * bucket_cap

    def fn(key, pdf_iter, state):
        ids, sig_list, seen = (
            list(state.get[0]), [list(s) for s in state.get[1]],
            list(state.get[2]),
        ) if state.exists else ([], [], [])
        seen_set = set(seen)
        member_set = set(ids)
        out_a, out_b, out_j = [], [], []
        for pdf in pdf_iter:
            for doc_id, sig in zip(pdf["doc_id"], pdf["sig"]):
                doc_id = int(doc_id)
                if doc_id in member_set or doc_id in seen_set:
                    continue  # replay/idempotence: already evaluated
                sig = [int(x) for x in sig]
                for other_id, other_sig in zip(ids, sig_list):
                    est = sum(x == y for x, y in zip(sig, other_sig)) / len(sig)
                    if est >= threshold:
                        lo, hi = sorted((doc_id, other_id))
                        out_a.append(lo)
                        out_b.append(hi)
                        out_j.append(est)
                if len(ids) < bucket_cap:
                    ids.append(doc_id)
                    sig_list.append(sig)
                    member_set.add(doc_id)
                else:
                    seen.append(doc_id)  # FIFO ledger, insertion order
                    seen_set.add(doc_id)
        if len(seen) > seen_cap:
            seen = seen[-seen_cap:]
        state.update((ids, sig_list, seen))
        yield pd.DataFrame({
            "band": [int(key[0])] * len(out_a),
            "a": out_a, "b": out_b, "est_jaccard": out_j,
        })

    return (
        banded.groupBy("band", "bh")
        .applyInPandasWithState(fn, out_schema, state_schema,
                                "append", "NoTimeout")
    )


def stream_near_dup_pairs(docs, text_col: str = "text",
                          id_col: str = "doc_id", n: int = 3,
                          num_perm: int = 32, bands: int = 8,
                          threshold: float = 0.5,
                          bucket_cap: int = 64) -> DataFrame:
    """UNIQUE near-dup pairs in-stream: the candidate stream deduped
    across bands, so each (a, b) is emitted exactly once over the whole
    stream's lifetime (the batch path's `.distinct()`, made incremental).

    Spark 4 allows chaining stateful operators in append mode, so the
    cross-band dedupe is a streaming `dropDuplicates` on (a, b) placed
    after the stateful bucket operator. est_jaccard is computed from the
    FULL signature (not the colliding band), so every band emits the
    same estimate for a pair and dropping duplicates loses nothing.
    State for the dedupe is one key per TRUE candidate pair — already
    the floor for exactly-once pair emission.
    """
    cands = stream_near_dup_candidates(
        docs, text_col=text_col, id_col=id_col, n=n, num_perm=num_perm,
        bands=bands, threshold=threshold, bucket_cap=bucket_cap)
    return cands.drop("band").dropDuplicates(["a", "b"])


def verify_pairs_exact(pairs: DataFrame, corpus: DataFrame,
                       text_col: str = "text", id_col: str = "doc_id",
                       n: int = 3,
                       threshold: float | None = None) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs against the corpus
    — for callers who need TRUE n-gram Jaccard, not the signature
    estimate (std ≈ 1/sqrt(num_perm)). Batch-shaped on purpose: run it
    inside `foreachBatch` on each micro-batch of emitted pairs

        pairs.writeStream.foreachBatch(
            lambda b, _: sink(verify_pairs_exact(b, corpus)))

    (the batch `minhash_dedup_pairs` verify-on-candidates shape). The
    candidate batch is broadcast (it is tiny — true collisions only);
    the corpus is shingled once per call and semijoined down to the
    docs that appear in a pair before the pair join, so work is
    O(candidate docs), never a corpus self-join.

    Returns (a, b, est_jaccard?, jaccard) — jaccard ROUNDED to 6 for
    output while any `threshold` filter compares the UNROUNDED value
    (the repo-wide convention; see near_dup_pairs_lsh).
    """
    from deeplake_spark.operators.dedup import shingle_sets

    ids = (pairs.select(F.col("a").alias("doc_id"))
           .unionByName(pairs.select(F.col("b").alias("doc_id")))
           .distinct())
    sets = (shingle_sets(corpus, text_col=text_col, id_col=id_col, n=n)
            .join(F.broadcast(ids), "doc_id", "left_semi"))
    sa = sets.select(F.col("doc_id").alias("a"), F.col("shingles").alias("__sha"))
    sb = sets.select(F.col("doc_id").alias("b"), F.col("shingles").alias("__shb"))
    inter = F.size(F.array_intersect("__sha", "__shb"))
    union = F.size(F.array_union("__sha", "__shb"))
    j = inter / F.nullif(union, F.lit(0))
    out = (sa.join(F.broadcast(pairs), "a")
           .join(F.broadcast(sb), "b"))
    if threshold is not None:
        out = out.filter(j >= threshold)
    keep = [c for c in pairs.columns if c not in ("a", "b")]
    return out.select("a", "b", *keep, F.round(j, 6).alias("jaccard"))


def stream_phash_near_dup(images, payload_col: str = "image",
                          id_col: str = "img_id",
                          compression: str = "png", strict: bool = False,
                          max_hamming: int = 6, bands: int = 8,
                          bucket_cap: int = 256) -> DataFrame:
    """Streaming image near-dup: pHash each arriving payload (the batch
    `multimodal.phash_images` mapInPandas runs unchanged on a
    readStream), band the 64 bits, and keep per-(band, bucket)
    membership in `applyInPandasWithState` — a pair is emitted the
    moment an image lands in a bucket already holding a neighbor
    within ``max_hamming``. Unlike the MinHash stream (estimated
    Jaccard), verification here is EXACT: the full 64-bit signature
    IS the state, so every EMITTED hamming equals the batch
    operator's. Recall keeps the batch lane's pigeonhole guarantee
    (max_hamming < bands) only WHILE buckets are under ``bucket_cap``:
    a capped bucket stops storing new members (mirroring the batch
    bucket_cap drop in near_dup_pairs_lsh), so two near-dups that BOTH
    arrive after their one clean band's bucket filled are missed where
    the uncapped batch ``image_near_dup_pairs`` would pair them — size
    the cap for the expected degenerate-bucket population, or set it
    high when exact batch parity matters more than bounded state.
    Emits (band, a, b, hamming) — distinct (a, b) downstream for a
    unique pair set (the SAME pair can surface from several bands);
    state is bounded at O(bucket_cap * 64 ints) per bucket plus a
    BOUNDED FIFO ledger of the last 8×bucket_cap post-cap arrival ids
    (the `seen` record that keeps replays within the engine's recent-
    batch horizon from re-emitting a capped-out member's pairs)."""
    from deeplake_spark.operators.multimodal import phash_images

    hashed = phash_images(images, payload_col, compression, strict)
    return stream_bits_near_dup(hashed, "phash_bits", id_col,
                                max_hamming=max_hamming, bands=bands,
                                bucket_cap=bucket_cap)


def stream_bits_near_dup(hashed, bits_col: str, id_col: str,
                         max_hamming: int = 6, bands: int = 8,
                         nbits: int = 64,
                         bucket_cap: int = 256,
                         index_path: str | None = None,
                         skip_ids_in_index: bool = False) -> DataFrame:
    """Streaming twin of `similarity.bits_near_dup_pairs`, shared by
    every bit-signature modality (image pHash, audio spectral
    fingerprint, video majority pHash): input is a (possibly
    streaming) DataFrame already carrying the signature column; the
    banding is the batch expression, the per-(band, bucket) membership
    is `applyInPandasWithState`. Recall/semantics and the bucket_cap
    boundary are documented on `stream_phash_near_dup`.

    ``index_path`` adds the stream-vs-CORPUS lane: arriving signatures
    additionally probe the persisted fingerprint side table
    (multimodal.build_fingerprint_index — already-decoded history)
    through a stateless stream-static band-bucket join + exact Hamming
    verify, unioned with the within-stream pairs. The side table must
    hold ids DISJOINT from the stream's (its snapshot of already-
    ingested rows), else a replayed ingested row pairs with itself's
    corpus copy — the `a != b` guard drops only the exact self-pair.
    ``skip_ids_in_index=True`` ENFORCES the contract at runtime: an
    arrival whose id already exists in the index is treated as a replay
    of ingested history and contributes NO cross-lane pairs (stream-
    static anti-join on id — its neighbors are already pairable from
    the corpus side); it still participates within-stream.

    State-schema note: round 12 bounds the replay-ledger ``seen`` field
    (added round 11, which itself widened the state from 2 to 3
    fields) — checkpoints written before round 11 do NOT recover
    against the current 3-field schema; restart with a fresh
    checkpoint directory after upgrading."""
    import pandas as pd

    from deeplake_spark.operators.similarity import _band_hash_array

    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming={max_hamming} needs max_hamming < bands={bands} "
            "for the exactness guarantee — raise bands instead")
    if nbits % bands:
        # mirror bits_near_dup_pairs: a non-dividing band count would
        # silently leave trailing bits out of the banding (and bands >
        # nbits would generate a zero-argument hash() that fails
        # analysis)
        raise ValueError(f"bands={bands} must evenly divide nbits={nbits}")
    # the state/output schemas key pairs by BIGINT ids; a non-integral
    # id column (string ids work in the batch twin bits_near_dup_pairs)
    # would otherwise die with an opaque ValueError inside the stateful
    # UDF at runtime — fail eagerly with the workaround instead
    id_type = dict(hashed.dtypes).get(id_col)
    if id_type not in ("bigint", "int", "smallint", "tinyint"):
        raise TypeError(
            f"stream_bits_near_dup needs an integral id column, got "
            f"{id_col}: {id_type} — map ids to bigint first (e.g. a "
            "monotonically-assigned row id), or use the batch twin "
            "similarity.bits_near_dup_pairs, which accepts any id type")
    base = hashed.select(F.col(id_col).cast("long").alias("__sid"),
                         F.col(bits_col).alias("__sbits"))
    banded = base.select(
        "__sid", "__sbits",
        F.posexplode(_band_hash_array(bands, nbits // bands, "__sbits"))
        .alias("band", "bh"),
    )

    out_schema = "band int, a bigint, b bigint, hamming int"
    # `seen` records POST-CAP arrivals (ids only, no bits): they emit
    # their pairs against the stored members once, but aren't members —
    # without the record, a micro-batch replay would re-evaluate and
    # RE-EMIT their pairs (append-mode sinks would see duplicate (a,b)
    # rows beyond the documented cap-recall caveat). 8 bytes/id of
    # state vs O(nbits) for a member — and BOUNDED (8× bucket_cap,
    # FIFO expiry): replays land within the engine's recent-batch
    # horizon, so evicting the oldest ledger entries first preserves
    # the idempotence guarantee exactly where replays can occur while
    # keeping a degenerate hot bucket's state O(bucket_cap), the
    # invariant the cap exists to provide. An id expired from the
    # ledger AND replayed later than the retention window re-emits its
    # pairs — the documented boundary.
    state_schema = ("ids array<bigint>, bits array<array<int>>, "
                    "seen array<bigint>")
    seen_cap = 8 * bucket_cap

    def fn(key, pdf_iter, state):
        ids, bit_list, seen = (
            list(state.get[0]), [list(b) for b in state.get[1]],
            list(state.get[2]),
        ) if state.exists else ([], [], [])
        seen_set = set(seen)
        member_set = set(ids)
        out_a, out_b, out_h = [], [], []
        for pdf in pdf_iter:
            for sid, bits in zip(pdf["__sid"], pdf["__sbits"]):
                sid = int(sid)
                if sid in member_set or sid in seen_set:
                    continue  # replay/idempotence: already evaluated
                bits = [int(x) for x in bits]
                for other_id, other_bits in zip(ids, bit_list):
                    h = sum(x != y for x, y in zip(bits, other_bits))
                    if h <= max_hamming:
                        lo, hi = sorted((sid, other_id))
                        out_a.append(lo)
                        out_b.append(hi)
                        out_h.append(h)
                if len(ids) < bucket_cap:
                    ids.append(sid)
                    bit_list.append(bits)
                    member_set.add(sid)
                else:
                    seen.append(sid)  # FIFO ledger, insertion order
                    seen_set.add(sid)
        if len(seen) > seen_cap:
            seen = seen[-seen_cap:]
        state.update((ids, bit_list, seen))
        yield pd.DataFrame({
            "band": [int(key[0])] * len(out_a),
            "a": out_a, "b": out_b, "hamming": out_h,
        })

    within = (
        banded.groupBy("band", "bh")
        .applyInPandasWithState(fn, out_schema, state_schema,
                                "append", "NoTimeout")
    )
    if index_path is None:
        return within
    from deeplake_spark.functions.vector import hamming_distance
    from deeplake_spark.operators.multimodal import FingerprintIndex

    idx = FingerprintIndex.load(hashed.sparkSession, index_path)
    if idx.nbits != nbits:
        raise ValueError(
            f"index at {index_path} holds {idx.nbits}-bit signatures, "
            f"stream is banded for nbits={nbits}")
    # the same eager id-dtype gate as the stream side: a non-integral
    # index id would cast to null __cid, the __sid != __cid filter
    # would drop every row, and the corpus lane would SILENTLY emit
    # zero pairs — fail loudly instead
    idx_id_type = dict(idx.signatures.dtypes).get(idx.id_col)
    if idx_id_type not in ("bigint", "int", "smallint", "tinyint"):
        raise TypeError(
            f"fingerprint index at {index_path} has a non-integral id "
            f"column ({idx.id_col}: {idx_id_type}); the streaming "
            "corpus lane keys pairs by BIGINT — rebuild the index over "
            "an integral id (e.g. a monotonically-assigned row id)")
    probe = banded
    if skip_ids_in_index:
        # disjointness enforcement: arrivals whose id is already in the
        # corpus snapshot are replays of ingested history — anti-join
        # them out of the cross lane (stream-static, stateless); their
        # corpus-side copies already pair with true neighbors
        corpus_ids = idx.signatures.select(
            F.col(idx.id_col).cast("long").alias("__sid")).distinct()
        probe = banded.join(corpus_ids, "__sid", "left_anti")
    side = idx.signatures.select(
        F.col(idx.id_col).cast("long").alias("__cid"),
        F.col("bits").alias("__cbits"),
        F.posexplode(_band_hash_array(bands, nbits // bands, "bits"))
        .alias("band", "bh"),
    )
    ham = hamming_distance(F.col("__sbits"), F.col("__cbits")).cast("int")
    cross = (
        probe.join(side, ["band", "bh"])
        .filter(F.col("__sid") != F.col("__cid"))
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select(
            "band",
            F.least("__sid", "__cid").alias("a"),
            F.greatest("__sid", "__cid").alias("b"),
            "hamming",
        )
    )
    return within.unionByName(cross)


def stream_cdc_shared_passages(docs, text_col: str = "text",
                               id_col: str = "doc_id", w: int = 4,
                               mask: int = 15, min_docs: int = 2,
                               max_docs: int | None = 100) -> DataFrame:
    """Streaming twin of `dedup.cdc_shared_passages` (reference batch
    semantics documented there; t33 is the oracle-checked batch query).
    The chunker runs STATELESS per arriving document — the row-local
    `cdc_chunk_array` fold, since per-doc windows are unsupported on
    streams — and only the per-chunk membership is stateful: one
    `applyInPandasWithState` keyed by the chunk string holds the ids
    of documents that carried it, and emits (chunk, a, b) rows the
    moment a chunk's membership reaches ``min_docs`` (all pairs among
    the first ``min_docs`` members, then new-vs-all for later
    arrivals). `groupBy(a, b).agg(count)` downstream reproduces the
    batch operator's n_shared_chunks — each (chunk, pair) row is
    emitted exactly once over the stream's lifetime (members are
    recorded, so at-least-once re-delivery of a document adds
    nothing).

    ``max_docs`` boundary (the one documented divergence from batch):
    a chunk whose membership would EXCEED max_docs stops accepting
    members and stops emitting — but the pairs its first max_docs
    members already emitted cannot be retracted from an append-mode
    sink, where the batch operator retro-drops the whole chunk once
    the final count crosses the cap. Size max_docs for boilerplate as
    in batch; the equivalence test pins stream == batch on data under
    the cap. State is bounded at O(max_docs ids) per chunk (capped
    buckets keep only a boolean flag), and — unlike the bits stream —
    post-cap arrivals need no replay ledger because they emit
    nothing.

    Scale shape: one stateless fold per document, shuffle keyed by
    chunk string (at 100 TB key by `_md5_int60(chunk, 0)` — the batch
    docstring's convention; the string key keeps sf-scale runs
    comparable to the oracle-checked batch), state proportional to
    chunks that actually repeat.

    STATE SCHEMA CHANGED in r15 (capped became its own field): a
    pre-change checkpoint fails Spark's state-store compatibility
    check at restart — resume from a fresh checkpoint."""
    import pandas as pd

    from deeplake_spark.functions.text import tokenize
    from deeplake_spark.operators.dedup import cdc_chunk_array

    if min_docs < 2:
        raise ValueError(f"min_docs={min_docs} must be >= 2")
    id_type = dict(docs.dtypes).get(id_col)
    if id_type not in ("bigint", "int", "smallint", "tinyint"):
        raise TypeError(
            f"stream_cdc_shared_passages needs an integral id column, "
            f"got {id_col}: {id_type} — map ids to bigint first, or use "
            "the batch dedup.cdc_shared_passages, which accepts any id")
    cap = int(max_docs) if max_docs is not None else 0  # 0 = uncapped

    toks = docs.select(F.col(id_col).cast("long").alias("__did"),
                       tokenize(f"`{text_col}`").alias("__t"))
    rows = (toks
            .select("__did",
                    F.array_distinct(cdc_chunk_array("__t", w, mask))
                    .alias("__chs"))
            .select("__did", F.explode_outer("__chs").alias("chunk"))
            .filter(F.col("chunk").isNotNull()))

    out_schema = "chunk string, a bigint, b bigint"
    # dedicated capped flag once membership would exceed max_docs: the
    # bucket is boilerplate, drop the member ids (state shrinks to an
    # empty list) and ignore every later arrival. The flag is its OWN
    # state field — the old in-band ids=[-1] sentinel collided with a
    # legitimate id of -1 (hash-derived ids are commonly negative) and
    # permanently muted that chunk's pairs (r15 streaming review).
    state_schema = "ids array<bigint>, capped boolean"

    def fn(key, pdf_iter, state):
        ids, capped = (list(state.get[0]), bool(state.get[1])) \
            if state.exists else ([], False)
        out_a, out_b = [], []
        for pdf in pdf_iter:
            for did in pdf["__did"]:
                if capped:
                    break
                did = int(did)
                if did in ids:
                    continue  # replay/idempotence: already a member
                if cap and len(ids) >= cap:
                    ids, capped = [], True  # boilerplate: flag, forget
                    break
                ids.append(did)
                k = len(ids)
                if k == min_docs:
                    # threshold crossed: all pairs among the members
                    for x in range(k):
                        for y in range(x + 1, k):
                            lo, hi = sorted((ids[x], ids[y]))
                            out_a.append(lo)
                            out_b.append(hi)
                elif k > min_docs:
                    for other in ids[:-1]:
                        lo, hi = sorted((did, other))
                        out_a.append(lo)
                        out_b.append(hi)
        state.update((ids, capped))
        yield pd.DataFrame({
            "chunk": [key[0]] * len(out_a), "a": out_a, "b": out_b,
        })

    return (rows.groupBy("chunk")
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "append", "NoTimeout"))
