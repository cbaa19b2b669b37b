"""`search`: interactive retrieval over indexed datasets that have just ingested.

Set-up builds three datasets with the public API (`from_parquet` +
`create_index`): `documents` (inverted index on `text`, KMV sketch on
`source`, `indexing_mode` automatic), `embeddings` (clustered index on
`embedding`) and `lineitem` (numeric on `l_extendedprice`; its row
count clears the 200k-row corpus floor so BETWEEN/IN can route).
Set-up ends with one write to `documents`: ``append`` a seeded batch,
``commit`` (which refreshes the index and the sketch), re-expose the
snapshot to SQL, and read the batch back with BM25 top-10 filtered by
``CONTAINS`` on a marker word only its marked rows carry.  The write
is timed into set-up, not into the loop: it takes longer than a whole
cycle of reads, so with it in the loop a run could time each read only
once.  It never tombstones rows: a delete rebuilds the index and the
sketch instead of appending a delta, so the reads of a run that
deleted would probe differently laid-out side tables than the others.

One client then sends a fixed cycle of reads, so every seed sends the
same mix:

- BM25 top-10 over 1-3 terms;
- ANN top-10 by cosine similarity to a perturbed stored vector (scored
  by recall against the exact top-10, computed with numpy);
- ``CONTAINS`` through ``ds.query``;
- BETWEEN / IN ranges through ``ds.query``;
- ``CONTAINS`` and BETWEEN as plain ``spark.sql`` over
  ``ds.as_sql_view`` (the Catalyst routing rule).

Each front-end gets a draw under the 10% selectivity gate (it routes)
and one over it (it declines).  Each slot walks a seeded permutation
of a small pool; the last read of each cycle re-sends the cycle's
routed SQL range, so one read in eight repeats, at the same place in
every run.
The warm-up sends queries the loop never sends.
Filters collect ``count`` and ``sum`` of the matched rows, checked
against the generated data.  Every read comes after the write and
probes the side tables it refreshed, so a write-path change that slows
later probes shows in the same run.
"""

from __future__ import annotations

import os
import random
import sys
import time
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import datagen
from perfbench.common import (Ctx, Op, closed_loop, dir_bytes, tree_cpu_s,
                              user_bytes)
from perfbench.trace import NullTracer, Tracer

SF = 0.04  # lineitem 240k rows, documents 2000, embeddings 800
POOL = 12  # distinct timed queries per slot variant
WARM = POOL  # pool index of each slot's warm-up query, never sent timed
DOCS_VIEW, LI_VIEW = "pb_docs", "pb_li"
BATCH, MARKED = 200, 3  # rows the write appends; rows carrying its marker
INDEXES = (("documents", "text", "inverted"),
           ("embeddings", "embedding", "clustered"),
           ("lineitem", "l_extendedprice", "numeric"))
NOISE = 0.05  # per-coordinate noise on a stored vector, before normalising


def write_inputs(seed: int, data_dir: str) -> None:
    """The searched tables; `lineitem` keeps only the columns the stream
    reads, so its dataset build writes no unused bytes."""
    t = datagen.make_tables(seed, SF)
    datagen.write_tables({
        "documents": t["documents"],
        "embeddings": t["embeddings"],
        "lineitem": t["lineitem"].select(["l_orderkey", "l_extendedprice"]),
    }, data_dir)


class Oracle:
    """Answers computed in Python from the generated tables."""

    def __init__(self, data_dir: str):
        docs = pq.read_table(os.path.join(data_dir, "documents.parquet"))
        self.doc_ids = docs["doc_id"].to_pylist()
        self.postings: dict[str, set[int]] = defaultdict(set)
        self.add_docs(self.doc_ids, docs["text"].to_pylist())
        li = pq.read_table(os.path.join(data_dir, "lineitem.parquet"),
                           columns=["l_extendedprice"])
        self.prices = li["l_extendedprice"].to_numpy()
        emb = pq.read_table(os.path.join(data_dir, "embeddings.parquet"))
        self.vec_ids = emb["vec_id"].to_numpy()
        m = np.stack(emb["embedding"].to_numpy(zero_copy_only=False)).astype(np.float64)
        self.unit = m / np.linalg.norm(m, axis=1, keepdims=True)
        self.user_bytes = sum(
            user_bytes(pq.read_table(os.path.join(data_dir, f"{t}.parquet")))
            for t in ("documents", "embeddings", "lineitem"))

    def add_docs(self, doc_ids, texts) -> None:
        for did, text in zip(doc_ids, texts):
            for w in text.split():
                self.postings[w].add(did)

    def contains(self, term: str) -> tuple[int, int]:
        ids = self.postings.get(term, set())
        return len(ids), sum(ids)

    def price_filter(self, mask) -> tuple[int, float]:
        return int(mask.sum()), float(self.prices[mask].sum())

    def cosine(self, vec) -> np.ndarray:
        """Exact cosine similarity of `vec` to every stored vector."""
        v = np.asarray(vec, dtype=np.float64)
        return self.unit @ (v / np.linalg.norm(v))


def _query_pools(seed: int, oracle: Oracle) -> dict:
    """Seeded pools of query arguments per read (slot, variant): `POOL`
    timed ones, then the warm-up one."""
    rng = random.Random(seed)
    size = POOL + 1
    n_docs = len(oracle.doc_ids)
    df = {w: len(ids) / n_docs for w, ids in oracle.postings.items()}
    rare = sorted(w for w, f in df.items() if 0.002 <= f <= 0.05)
    common = sorted(w for w, f in df.items() if f >= 0.3)
    lo, hi = float(oracle.prices.min()), float(oracle.prices.max())
    span = hi - lo
    pools: dict[tuple, list] = {}

    def contains_pool(words):
        return [rng.choice(words) for _ in range(size)]

    def between_pool(width):
        out = []
        for _ in range(size):
            a = round(rng.uniform(lo, hi - width * span), 2)
            out.append((a, round(a + width * span, 2)))
        return out

    pools[("contains", "route")] = contains_pool(rare)
    pools[("contains_sql", "decline")] = contains_pool(common)
    pools[("range", "decline")] = between_pool(0.3)
    pools[("range", "in")] = [
        sorted({round(float(oracle.prices[rng.randrange(len(oracle.prices))]), 2)
                for _ in range(5)}) for _ in range(size)]
    pools[("range_sql", "route")] = between_pool(0.002)
    pools[("range_sql", "repeat")] = pools[("range_sql", "route")]
    pools[("bm25", "mixed")] = [
        [rng.choice(rare)] + rng.sample(rare + common, rng.randrange(0, 3))
        for _ in range(size)]
    noise = np.random.default_rng([seed, 0xA22])
    pools[("ann", "topk")] = [
        [round(float(x), 6) for x in
         oracle.unit[rng.randrange(len(oracle.vec_ids))]
         + noise.normal(0.0, NOISE, oracle.unit.shape[1])]
        for _ in range(size)]
    return pools


#: the cycle of reads the closed loop sends, one operation at a time.
#: Each front-end (``ds.query`` and SQL) gets a draw under the
#: selectivity gate and one over it.  The last read re-sends the
#: cycle's routed SQL range, so one read in eight repeats an earlier
#: one, at the same place in every run.
SEQUENCE = (
    ("bm25", "mixed"), ("contains", "route"), ("range", "decline"),
    ("ann", "topk"), ("range_sql", "route"), ("range", "in"),
    ("contains_sql", "decline"), ("range_sql", "repeat"),
)
REPEATS = {("range_sql", "repeat"): ("range_sql", "route")}


def _query_key(slot: str, variant: str) -> tuple[str, str]:
    """The (slot, variant) whose queries a read sends."""
    return REPEATS.get((slot, variant), (slot, variant))


def stream(seed: int, n: int) -> list[tuple[str, str, int]]:
    """The first `n` reads (slot, variant, pool index) for `seed`:
    `SEQUENCE` over and over, each slot walking a seeded permutation of
    its timed pool, so no other read repeats within `POOL` cycles."""
    rng = random.Random(seed ^ 0x5EA5C4)
    order = {key: rng.sample(range(POOL), POOL)
             for key in SEQUENCE if key not in REPEATS}
    out = []
    for i in range(n):
        cycle, pos = divmod(i, len(SEQUENCE))
        slot, variant = SEQUENCE[pos]
        out.append((slot, variant,
                    order[_query_key(slot, variant)][cycle % POOL]))
    return out


def make_batch(seed: int, first_id: int) -> tuple[dict, str]:
    """Rows of the write (a dict of columns) and its marker word."""
    rng = np.random.default_rng([seed, 1])
    marker = f"mark{seed % 1000:03d}"
    texts = datagen.document_texts(rng, BATCH)
    for i in range(MARKED):
        texts[i] = f"{texts[i]} {marker}"
    return {
        "doc_id": list(range(first_id, first_id + BATCH)),
        "text": texts,
        "lang": rng.choice(datagen.LANGS, BATCH, p=datagen.LANG_P).tolist(),
        "source": [f"src{int(s)}" for s in rng.integers(0, datagen.N_SOURCES, BATCH)],
        "n_chars": [len(t) for t in texts],
    }, marker


def setup(ctx: Ctx) -> dict:
    import deeplake_spark as dls

    datasets = {}
    for table, column, kind in INDEXES:
        if table not in datasets:
            t0 = time.perf_counter()
            datasets[table] = dls.from_parquet(
                os.path.join(ctx.data_dir, f"{table}.parquet"),
                ctx.path("datasets", table), ctx.spark)
            ctx.layer["dataset.from_parquet_s"] = (
                ctx.layer.get("dataset.from_parquet_s", 0.0)
                + time.perf_counter() - t0)
        t0 = time.perf_counter()
        datasets[table].create_index(column, kind)
        name = "ivf" if kind == "clustered" else kind
        ctx.layer[f"index.build_s.{name}"] = time.perf_counter() - t0
        ctx.layer[f"index.bytes.{name}"] = dir_bytes(os.path.join(
            datasets[table].path, "_indexes", f"{column}_{kind}"))[0]
    docs = datasets["documents"]
    t0 = time.perf_counter()
    docs.create_sketch("source", "kmv")
    ctx.layer["sketch.build_s.kmv"] = time.perf_counter() - t0
    docs.indexing_mode = "automatic"
    docs.as_sql_view(DOCS_VIEW)
    datasets["lineitem"].as_sql_view(LI_VIEW)
    oracle = Oracle(ctx.data_dir)
    state = {"ds": datasets, "oracle": oracle,
             "pools": _query_pools(ctx.seed, oracle),
             "next_id": len(oracle.doc_ids), "appended_bytes": 0,
             "routed": [], "examined": [], "sent": [],
             "parse_s": [], "recall": []}
    _ingest(ctx, state)
    return state


def _ingest(ctx: Ctx, state: dict) -> None:
    """The set-up write (traced with a tracer of its own when the run
    is traced), and the `dataset` layer's metrics of it."""
    docs = state["ds"]["documents"]
    sides = ("data", "_indexes", "_sketches")
    before = {d: dir_bytes(os.path.join(docs.path, d))[0] for d in sides}
    tracer = Tracer(ctx.spark) if ctx.trace else NullTracer()
    try:
        state["write_ok"] = _write(state, tracer, ctx.seed)
    finally:
        tracer.close()
    after = {d: dir_bytes(os.path.join(docs.path, d))
             for d in sides + ("_dl_log",)}
    ctx.layer["dataset.data_bytes_written"] = after["data"][0] - before["data"]
    ctx.layer["dataset.index_bytes_written"] = (
        after["_indexes"][0] + after["_sketches"][0]
        - before["_indexes"] - before["_sketches"])
    ctx.layer["dataset.index_files"] = after["_indexes"][1]
    ctx.layer["dataset.log_bytes"] = after["_dl_log"][0]
    if tracer.on:
        self_t = tracer.self_times()
        for name in ("append", "commit", "to_df"):
            ctx.layer[f"dataset.{name}_s"] = sum(tracer.durations(name))
            ctx.layer[f"self.{name}_s"] = self_t.get(name, 0.0)
        ctx.layer["dataset.commit_jobs"] = tracer.counts["jobs.commit"]
        ctx.setup_spans = [s.as_dict() for s in tracer.spans]


def _build(state: dict, slot: str, variant: str, arg):
    """(TQL text or None, a thunk building the DataFrame to collect,
    checker of the collected rows) for one read."""
    from pyspark.sql import functions as F

    ds, oracle = state["ds"], state["oracle"]
    docs, li, spark = ds["documents"], ds["lineitem"], ds["documents"].spark
    if slot == "bm25":
        text = (f"SELECT doc_id, BM25_SIMILARITY(text, '{' '.join(arg)}') AS s "
                "ORDER BY s DESC LIMIT 10")
        hit = set().union(*(oracle.postings.get(w, set()) for w in arg))

        def check(rows):
            scores = [r["s"] for r in rows]
            return (len(rows) == min(10, len(hit))
                    and all(r["doc_id"] in hit for r in rows)
                    and scores == sorted(scores, reverse=True))
        return text, lambda: docs.query(text).df, check
    if slot == "ann":
        text = ("SELECT vec_id, COSINE_SIMILARITY(embedding, ?) AS s "
                "ORDER BY s DESC LIMIT 10")
        exact = oracle.cosine(arg)
        top10 = set(oracle.vec_ids[np.argsort(-exact)[:10]].tolist())
        by_id = dict(zip(oracle.vec_ids.tolist(), exact))

        def check(rows):
            """Scores must be the true cosines, in descending order;
            the overlap with the exact top-10 is recorded as recall."""
            scores = [r["s"] for r in rows]
            state["recall"].append(len(top10 & {r["vec_id"] for r in rows}) / 10)
            return (len(rows) == 10 and scores == sorted(scores, reverse=True)
                    and all(abs(r["s"] - by_id[r["vec_id"]]) <= 1e-4
                            for r in rows))
        return text, lambda: ds["embeddings"].query(text, params=[arg]).df, check
    if slot.startswith("contains"):
        want = oracle.contains(arg)
        if slot == "contains":
            text = f"SELECT doc_id WHERE CONTAINS(text, '{arg}')"
            build = lambda: docs.query(text).df.agg(  # noqa: E731
                F.count("*").alias("n"), F.sum("doc_id").alias("s"))
        else:
            text = None
            sql = (f"SELECT count(*) AS n, sum(doc_id) AS s FROM {DOCS_VIEW} "
                   f"WHERE array_contains(split(lower(text), '\\\\s+'), '{arg}')")
            build = lambda: spark.sql(sql)  # noqa: E731

        def check(rows):
            return (rows[0]["n"], rows[0]["s"] or 0) == want
        return text, build, check
    # range / range_sql: count and price sum of the matched rows
    if variant == "in":
        mask = np.isin(oracle.prices, arg)
        pred = f"l_extendedprice IN ({', '.join(f'{p:.2f}' for p in arg)})"
    else:
        a, b = arg
        mask = (oracle.prices >= a) & (oracle.prices <= b)
        pred = f"l_extendedprice BETWEEN {a:.2f} AND {b:.2f}"
    want_n, want_s = oracle.price_filter(mask)
    if slot == "range":
        text = f"SELECT l_extendedprice WHERE {pred}"
        build = lambda: li.query(text).df.agg(  # noqa: E731
            F.count("*").alias("n"), F.sum("l_extendedprice").alias("s"))
    else:
        text = None
        sql = (f"SELECT count(*) AS n, sum(l_extendedprice) AS s FROM {LI_VIEW} "
               f"WHERE {pred}")
        build = lambda: spark.sql(sql)  # noqa: E731

    def check(rows):
        n, s = rows[0]["n"], rows[0]["s"] or 0.0
        return n == want_n and abs(s - want_s) <= 1e-6 * max(1.0, abs(want_s))
    return text, build, check


def _read(state: dict, tracer, slot: str, variant: str, idx: int) -> Op:
    from deeplake_spark.tql.parser import parse_query

    text, build, check = _build(state, slot, variant,
                                state["pools"][(slot, variant)][idx])
    ok = False
    c0 = tree_cpu_s(os.getpid())
    t0 = time.perf_counter()
    records0 = tracer.counts["input_records"] if tracer.on else 0.0
    try:
        with tracer.span("op", slot=slot, variant=variant):
            if tracer.on and text is not None:
                with tracer.span("parse"):
                    p0 = time.perf_counter()
                    parse_query(text)
                    state["parse_s"].append(time.perf_counter() - p0)
            with tracer.span("construct"):
                df = build()
            if tracer.on:
                with tracer.span("plan"):
                    df._jdf.queryExecution().executedPlan()
            with tracer.span("exec"):
                rows = df.collect()
        dt = time.perf_counter() - t0
        cpu = tree_cpu_s(os.getpid()) - c0
        ok = check(rows)
        if tracer.on:
            state["routed"].append(any("/_indexes/" in f for f in df.inputFiles()))
            matched = (rows[0]["n"] if rows and "n" in rows[0].asDict()
                       else len(rows))
            state["examined"].append(
                (tracer.counts["input_records"] - records0) / max(1, matched))
    except Exception as exc:
        dt = time.perf_counter() - t0
        cpu = tree_cpu_s(os.getpid()) - c0
        print(f"perfbench: {slot}/{variant} failed: {exc}", file=sys.stderr)
    state["sent"].append((*_query_key(slot, variant), idx))
    return Op(f"{slot}/{variant}", dt, ok, cpu)


def _write(state: dict, tracer, seed: int) -> bool:
    """Append a batch, commit, re-expose the snapshot to SQL and read
    the batch back; whether the read-back saw exactly its marked rows."""
    docs, oracle = state["ds"]["documents"], state["oracle"]
    batch, marker = make_batch(seed, state["next_id"])
    ok = False
    try:
        with tracer.span("op", slot="write"):
            with tracer.span("append"):
                docs.append(batch)
            with tracer.span("commit"):
                docs.commit("write 1")
                docs.as_sql_view(DOCS_VIEW)
            if tracer.on:
                with tracer.span("to_df"):
                    docs.to_df()
            with tracer.span("construct"):
                df = docs.query(
                    f"SELECT doc_id, BM25_SIMILARITY(text, '{marker}') AS s "
                    f"WHERE CONTAINS(text, '{marker}') "
                    "ORDER BY s DESC LIMIT 10").df
            if tracer.on:
                with tracer.span("plan"):
                    df._jdf.queryExecution().executedPlan()
            with tracer.span("exec"):
                rows = df.collect()
        ok = {r["doc_id"] for r in rows} == set(batch["doc_id"][:MARKED])
    except Exception as exc:
        print(f"perfbench: write failed: {exc}", file=sys.stderr)
    state["next_id"] += BATCH
    state["appended_bytes"] += user_bytes(pa.table(batch))
    oracle.add_docs(batch["doc_id"], batch["text"])
    return ok


def warm_up(ctx: Ctx, state: dict) -> None:
    """One read of every slot after the write, untimed (compiles their
    plans), each with a query the loop never sends."""
    for slot, variant in SEQUENCE:
        if (slot, variant) in REPEATS:
            continue
        if not _read(state, NullTracer(), slot, variant, WARM).ok:
            print(f"perfbench: warm-up {slot}/{variant} wrong result",
                  file=sys.stderr)


def run(ctx: Ctx, state: dict, tracer, seconds: float) -> tuple[list[Op], float]:
    """Reads one at a time, each starting only while it still fits,
    and at least one whole cycle, so that every kind has a sample."""
    draws = stream(ctx.seed, 100_000)
    for key in ("routed", "examined", "sent", "parse_s", "recall"):
        state[key].clear()
    ops, wall = closed_loop(
        seconds, lambda i: [_read(state, tracer, *draws[i])],
        min_steps=len(SEQUENCE))
    if tracer.on:
        _layer_metrics(ctx, state)
    return ops, wall


def finish(ctx: Ctx, state: dict) -> bool:
    """The write read its batch back, and `documents` holds the
    generated rows plus the appended ones; also records the bytes
    stored per byte of user data."""
    stored = sum(dir_bytes(ds.path)[0] for ds in state["ds"].values())
    state["bytes_per_user_byte"] = stored / (
        state["oracle"].user_bytes + state["appended_bytes"])
    n = state["ds"]["documents"].to_df().count()
    return state["write_ok"] and n == state["next_id"]


def _layer_metrics(ctx: Ctx, state: dict) -> None:
    sent = state["sent"]
    routed = state["routed"]
    ctx.layer["route.routed_share"] = sum(routed) / max(1, len(routed))
    ctx.layer["route.declined_share"] = 1.0 - ctx.layer["route.routed_share"]
    ctx.layer["route.rows_examined_per_result"] = (
        float(np.mean(state["examined"])) if state["examined"] else 0.0)
    ctx.layer["route.sql_share"] = sum(
        s.endswith("_sql") for s, _v, _i in sent) / max(1, len(sent))
    ctx.layer["search.repeat_share"] = 1.0 - len(set(sent)) / max(1, len(sent))
    ctx.layer["tql.parse_ms"] = (
        1000.0 * float(np.mean(state["parse_s"])) if state["parse_s"] else 0.0)
    ctx.layer["search.recall_at_10"] = (
        float(np.mean(state["recall"])) if state["recall"] else 0.0)
