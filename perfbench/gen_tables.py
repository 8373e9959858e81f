"""Seeded generator for the analytic tables the query registry reads.

Writes the ten single-file parquet tables the registered queries scan
(region nation customer supplier part orders lineitem events documents
embeddings) with the column names, Arrow types and value domains of the
TPC-H-like test data the registry is verified against, at the row counts
of its scale factor 0.01: 1,500 customers, 15,000 orders, ~60,000 line
items and 10,000 events. ``events.ts`` is Parquet TIMESTAMP(NANOS), the
unit the registry's loader documents for that column; the date columns
of orders and lineitem are TIMESTAMP(MICROS).

Usage: python3 perfbench/gen_tables.py OUT_DIR [--seed N]
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "green"]
PART_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gear", "pipe", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir: str, seed: int) -> dict[str, int]:
    """Write all tables under ``out_dir``; returns table → row count."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part, n_orders = 1_500, 100, 2_000, 15_000
    n_events, n_users, n_docs, n_vecs = 10_000, 150, 500, 500
    counts: dict[str, int] = {}

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    counts.update(region=5, nation=25)

    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10.0, 1)),
    })
    counts.update(customer=n_cust, supplier=n_supp, part=n_part)

    order_day = rng.integers(0, 2405, n_orders)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_orders)),
        "o_orderdate": pa.array(_EPOCH_1995_US + order_day * _DAY_US, pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_orders)]),
    })
    counts["orders"] = n_orders

    lines_per = rng.integers(1, 8, n_orders)
    l_order = np.repeat(np.arange(n_orders), lines_per)
    starts = np.cumsum(lines_per) - lines_per
    l_num = np.arange(len(l_order)) - np.repeat(starts, lines_per) + 1
    n_lines = len(l_order)
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    ship = order_day[l_order] + rng.integers(1, 122, n_lines)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_lines), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines), pa.int64()),
        "l_linenumber": pa.array(l_num, pa.int32()),
        "l_quantity": pa.array(qty),
        # whole-dollar unit prices: a discounted line price then has at most
        # two decimals, so no round(sum(...), 2) of the queries lands on a
        # half-cent tie, which engines summing in another order round apart
        "l_extendedprice": pa.array(qty * rng.integers(900, 2101, n_lines)),
        "l_discount": pa.array(rng.integers(0, 11, n_lines) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_lines) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_lines)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_lines)]),
        "l_shipdate": pa.array(_EPOCH_1995_US + ship * _DAY_US, pa.timestamp("us")),
    })
    counts["lineitem"] = n_lines

    gaps = rng.exponential(30 * _DAY_US / n_events, n_events).astype(np.int64) + 1
    ts = _EPOCH_2024_US + np.cumsum(gaps)
    ts = np.minimum(ts, _EPOCH_2024_US + 30 * _DAY_US - 1)
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts * 1000, pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)]),
        "value": pa.array(np.round(rng.exponential(40.0, n_events), 2) + 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    counts["events"] = n_events

    texts: list[str] = []
    for i in range(n_docs):
        roll = rng.random()
        if i > 10 and roll < 0.05:  # near duplicate: an earlier doc + "dup"
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" * int(rng.integers(1, 3)))
        else:
            n_words = int(rng.integers(8, 101))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), n_words)]))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, 5, n_docs)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    counts["documents"] = n_docs

    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 1.5, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    counts["embeddings"] = n_vecs
    return counts


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, default=0)
    a = ap.parse_args()
    print(json.dumps({"rows": generate(a.out_dir, a.seed)}))


if __name__ == "__main__":
    main()
