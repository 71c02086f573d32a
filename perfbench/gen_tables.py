"""Seeded registry tables for the ``batch_mix`` workload.

Writes the ten tables the query registry reads (``region nation customer
supplier part orders lineitem events documents embeddings``, one
``<table>.parquet`` each) with the column names, types and value ranges of
the TPC-H-shaped star schema plus the ``events``, ``documents`` and
``embeddings`` tables the registry was written against. Row counts scale
with ``SF`` (lineitem has 6,000,000 x SF rows). Values are uniform draws
from one numpy generator; DuckDB writes them with a single thread, so the
same seed gives the same bytes.

Usage: ``python3 perfbench/gen_tables.py --seed 1 --out DIR``
"""

from __future__ import annotations

import argparse
import os
from datetime import datetime, timedelta, timezone

import duckdb
import numpy as np
import pyarrow as pa

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_WORDS = ("blue", "hot", "large", "red", "small", "green", "ring", "bolt", "nut", "gear")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
EMBED_DIM = 64
#: TPC-H scale factor of the generated tables
SF = 0.002


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng: np.random.Generator, start: datetime, days: int, n: int) -> list[datetime]:
    return [start + timedelta(days=int(d)) for d in rng.integers(0, days, n)]


def generate(seed: int, sf: float = SF) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_events, n_users = int(1_000_000 * sf), max(10, int(15_000 * sf))
    n_docs = max(200, int(50_000 * sf))
    n_emb = max(200, int(20_000 * sf))
    i64, i32, f64, s = pa.int64(), pa.int32(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS, s)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), s),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), f64),
    })
    w = rng.choice(PART_WORDS, (n_part, 2))
    out["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), i64),
        "p_name": pa.array([f"{a} {b}" for a, b in w], s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2), f64),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(("F", "O", "P"), n_ord), s),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord), f64),
        "o_orderdate": pa.array(_dates(rng, datetime(1995, 1, 1), 2404, n_ord), ts),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), s),
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
        "l_returnflag": pa.array(rng.choice(("A", "N", "R"), n_line), s),
        "l_linestatus": pa.array(rng.choice(("F", "O"), n_line), s),
        "l_shipdate": pa.array(_dates(rng, datetime(1995, 1, 2), 2498, n_line), ts),
    })
    # events: one month of strictly increasing microsecond timestamps
    gaps = rng.integers(1, int(2 * 30 * 86400 * 1e6 / n_events), n_events)
    start_us = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp() * 1e6)
    out["events"] = pa.table({
        "event_id": pa.array(range(n_events), i64),
        "ts": pa.array(start_us + np.cumsum(gaps), ts),
        "user_id": pa.array(rng.integers(0, n_users, n_events), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_events), s),
        "value": pa.array(np.round(rng.exponential(20.0, n_events), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)], s),
    })
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    out["documents"] = pa.table({
        "doc_id": pa.array(range(n_docs), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P), s),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], s),
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 0.05, (10, EMBED_DIM))
    vecs = rng.normal(0.0, 0.12, (n_emb, EMBED_DIM)) + centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), i64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return out


def write(tables: dict[str, pa.Table], out: str) -> None:
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for name, tbl in tables.items():
        con.register("t", tbl)
        path = os.path.join(out, f"{name}.parquet")
        con.execute(f"COPY (SELECT * FROM t) TO '{path}' (FORMAT PARQUET, COMPRESSION SNAPPY)")
        con.unregister("t")
    con.close()


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    write(generate(a.seed), a.out)


if __name__ == "__main__":
    main()
