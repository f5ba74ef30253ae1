"""Seeded star-schema tables for the query workload.

Writes the ten tables the query registry reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
parquet file each, with the same column names and types as the repo's
test data and value domains of the same shape, scaled by `sf` (lineitem
has 6M x sf rows). The same (seed, sf) gives the same files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_COLORS = ["blue", "cold", "green", "hot", "red", "small", "large", "shiny"]
_NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    off = rng.integers(0, int((hi - lo).astype(int)) + 1, n)
    return (lo + off).astype("datetime64[us]")


def _pick(rng, values: list[str], n: int, p=None) -> list[str]:
    return [values[i] for i in rng.choice(len(values), n, p=p)]


def build(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_docs = max(50, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    n_users = max(15, int(15_000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": pa.array(_pick(rng, _SEGMENTS, n_cust), s),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), f64),
    })
    names = [f"{c} {n}" for c in _COLORS for n in _NOUNS]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array(_pick(rng, names, n_part), s),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(_pick(rng, _PTYPES, n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1), f64
        ),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(_pick(rng, ["F", "O", "P"], n_ord), s),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord), f64),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", n_ord), pa.timestamp("us")),
        "o_orderpriority": pa.array(_pick(rng, _PRIORITIES, n_ord), s),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64), f64),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, f64),
        "l_returnflag": pa.array(_pick(rng, ["A", "N", "R"], n_line), s),
        "l_linestatus": pa.array(_pick(rng, ["F", "O"], n_line), s),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n_line), pa.timestamp("us")),
    })
    gaps = rng.exponential(259.0, n_ev) * 1_000_000
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("int64").astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": pa.array(_pick(rng, _EVENT_TYPES, n_ev), s),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s),
    })
    texts: list[str] = []
    for i in range(n_docs):
        # every 20th document near-duplicates an earlier one: a fixed count,
        # so the dedup/LSH queries do the same amount of work on every seed
        if i and i % 20 == 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(_pick(rng, _VOCAB, int(rng.integers(10, 100)))))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(_pick(rng, _LANGS, n_docs, p=[0.44, 0.14, 0.14, 0.14, 0.14]), s),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], s),
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 0.1, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.05, (n_emb, 64))).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return out


def write(seed: int, sf: float, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
