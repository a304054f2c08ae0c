"""Seeded input generators for the benchmark.

Every input is a pure function of ``seed`` and a size, written to parquet in
set-up so the timed calls read bytes, never a lazy generator plan.  The
program under test only ever sees these files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC


def _ts(us: np.ndarray) -> pa.Array:
    # timestamp[us]: Spark rejects the pandas-default nanosecond unit
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def write_frontier(path: str, seed: int, n_urls: int, n_hosts: int) -> None:
    """Skewed synthetic frontier (url, priority, discovered_ts).

    Host ids come from a squared uniform draw, so low ids are hot (host 0
    holds about 1/sqrt(n_hosts) of all URLs), the same shape as
    ``benchlib.synth_frontier_seeds``.  Priorities have ties on purpose:
    three decimals over thousands of rows per host, so the
    (priority desc, discovered_ts, url) order needs all three keys."""
    rng = np.random.default_rng([seed, 1])
    u = rng.random(n_urls)
    host = np.floor(u * u * n_hosts).astype(np.int64)
    ids = rng.permutation(n_urls)
    url = [f"https://h{h}.example.org/p/{i}" for h, i in zip(host, ids)]
    prio = rng.integers(0, 1000, n_urls) / 1000.0
    disc = EPOCH_US + rng.integers(0, 86_400, n_urls) * 1_000_000
    pq.write_table(
        pa.table({"url": url, "priority": prio, "discovered_ts": _ts(disc)}), path
    )


WORDS = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark a group part "
    "big sort query fast the"
).split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
ADJ = ["red", "small", "hot", "old", "large", "blue"]
NOUN = ["plate", "widget", "ring", "rod", "bolt", "gizmo"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
DAY_US = 86_400_000_000


def _days(rng, n, span_days=2400) -> pa.Array:
    """Midnight timestamps from 1995-01-01 on."""
    base = (np.datetime64("1995-01-01") - np.datetime64("1970-01-01")).astype(np.int64)
    return _ts((base + rng.integers(0, span_days, n)) * DAY_US)


def _documents(rng, n_docs: int) -> pa.Table:
    texts = []
    for _ in range(n_docs):
        k = int(rng.integers(10, 100))
        texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    # ~5% near-duplicates: a copy of another document plus one token, so
    # the dedup leaves have real candidate pairs to confirm
    for i in np.nonzero(rng.random(n_docs) < 0.05)[0]:
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    centers = rng.normal(0, 1, (10, dim))
    label = rng.integers(0, 10, n)
    v = centers[label] + rng.normal(0, 0.8, (n, dim))
    # a few exact-direction near copies for the cosine near-dup leaves
    dups = np.nonzero(rng.random(n) < 0.03)[0]
    v[dups] = v[rng.integers(0, n, len(dups))] + rng.normal(0, 0.01, (len(dups), dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.array(list(v.astype(np.float32)), pa.list_(pa.float32()))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": emb,
        "label": pa.array(label, pa.int32()),
    })


def write_query_tables(out_dir: str, seed: int, scale: float) -> None:
    """The ten tables the query registry reads (TPC-H-like star schema, an
    event stream, documents and embeddings).  ``scale`` 0.01 gives 15k
    orders, 60k line items and 500 documents."""
    rng = np.random.default_rng([seed, 2])
    n_cust = max(50, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(50, int(200_000 * scale))
    n_ord = max(500, int(1_500_000 * scale))
    n_line = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * scale))
    n_users = max(20, int(15_000 * scale))
    n_docs = max(100, int(50_000 * scale))
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n_cust)],
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in rng.integers(0, 6, (n_part, 2))],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 29, n_part)],
            "p_type": [PART_TYPES[j] for j in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
            "o_orderdate": _days(rng, n_ord),
            "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, n_ord)],
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105_000, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n_line)],
            "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, n_line)],
            "l_shipdate": _days(rng, n_line, span_days=2500),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts(EPOCH_US + np.sort(rng.integers(0, 30 * DAY_US, n_ev))),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n_ev)],
            "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
            "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_ev)],
        }),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_docs),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
