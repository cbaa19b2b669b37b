"""Seeded synthetic tables with the schemas the query lanes read.

The benchmark must not depend on data outside its checkout, so it
writes its own TPC-H-ish star schema plus the `events`, `documents`
and `embeddings` tables, one parquet file each, from a seed. Sizes
follow the repository's scale-factor convention (`lineitem` ~ 6M x sf).

`documents.text` mixes a 30-word base vocabulary (every base word sits
in most documents, so CONTAINS on it declines the index) with a Zipf
tail of rare words (which route): the search workload draws from both
sides of the selectivity gate.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window small big data column join order customer "
    "query stream filter group vector"
).split()
RARE_WORDS = [f"w{i:04d}" for i in range(2000)]
RARE_SHARE = 0.08  # share of document tokens drawn from the rare tail
DIM = 64
N_LABELS = 10
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
N_SOURCES = 20

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")


def table_rows(sf: float) -> dict[str, int]:
    """Row count per table at scale factor `sf`."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "lineitem": max(6_000, int(6_000_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def document_texts(rng: np.random.Generator, n: int) -> list[str]:
    """`n` lowercase space-separated documents; ~5% near-duplicates
    (an earlier text plus the word ``dup``), the shape dedup lanes find."""
    lens = rng.integers(10, 101, n)
    total = int(lens.sum())
    base = rng.integers(0, len(BASE_WORDS), total)
    rare_rank = (rng.zipf(1.3, total) - 1) % len(RARE_WORDS)
    use_rare = rng.random(total) < RARE_SHARE
    words = np.where(use_rare, np.array(RARE_WORDS, dtype=object)[rare_rank],
                     np.array(BASE_WORDS, dtype=object)[base])
    texts, pos = [], 0
    for ln in lens:
        texts.append(" ".join(words[pos:pos + ln]))
        pos += ln
    dup_of = rng.integers(0, n, n)
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if dup_of[i] < i:
            texts[i] = texts[dup_of[i]] + " dup"
    return texts


def embedding_matrix(rng: np.random.Generator, labels: np.ndarray) -> np.ndarray:
    """Unit vectors clustered by label (a mixture of `N_LABELS` centres)."""
    centres = rng.normal(0.0, 1.0, (N_LABELS, DIM))
    m = centres[labels] + rng.normal(0.0, 1.2, (len(labels), DIM))
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    return m.astype(np.float32)


def _dates(rng, n, days):
    return _EPOCH_1995 + (rng.integers(0, days, n) * _DAY_US).astype("timedelta64[us]")


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Every table at scale factor `sf`, deterministic in `seed`."""
    rng = np.random.default_rng(seed)
    r = table_rows(sf)
    n_cust, n_supp, n_part = r["customer"], r["supplier"], r["part"]
    n_ord, n_li, n_ev = r["orders"], r["lineitem"], r["events"]
    n_doc, n_emb = r["documents"], r["embeddings"]
    i32, i64 = pa.int32(), pa.int64()
    adj = ["small", "red", "blue", "hot", "cold", "old", "new", "large"]
    noun = ["ring", "widget", "bolt", "gear", "plate", "rod", "anvil", "gizmo"]
    labels = rng.integers(0, N_LABELS, n_emb).astype(np.int32)
    emb = embedding_matrix(rng, labels)
    texts = document_texts(rng, n_doc)
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, i32),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                        "HOUSEHOLD", "MACHINERY"], n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                       zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                                  "SMALL", "STANDARD"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _dates(rng, n_ord, 2405),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                           "4-NOT SPECIFIED", "5-LOW"], n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _dates(rng, n_li, 2499),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": np.sort(np.datetime64("2024-01-01", "us") + rng.integers(
                0, 30 * _DAY_US, n_ev).astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, n_cust, n_ev), i64),
            "event_type": rng.choice(["click", "view", "purchase", "signup",
                                      "error"], n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }),
        "documents": pa.table({
            "doc_id": pa.array(np.arange(n_doc), i64),
            "text": texts,
            "lang": rng.choice(LANGS, n_doc, p=LANG_P),
            "source": [f"src{i % N_SOURCES}" for i in range(n_doc)],
            "n_chars": pa.array([len(t) for t in texts], i64),
        }),
        "embeddings": pa.table({
            "vec_id": pa.array(np.arange(n_emb), i64),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, (n_emb + 1) * DIM, DIM), i32),
                pa.array(emb.ravel())),
            "label": pa.array(labels, i32),
        }),
    }


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One single-row-group parquet file per table, as the test data ships."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, t.num_rows))
