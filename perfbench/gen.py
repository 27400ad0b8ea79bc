"""Seeded input generator for the graft benchmark.

Writes the ten tables the library reads (`graft.Tables`) as one parquet
file each, with the column names, types and value distributions of the
synthetic testdata the oracle gate runs on: 30-day January-2024 chat
events over five channels, a TPC-H-like order star, a 30-word-vocabulary
documents corpus with planted `dup` tails, and unit 64-d embeddings with
ten labels. Row counts come from the workload's scale; the seed drives
every value, so the same (seed, sizes) gives byte-identical files.

Usage: python3 perfbench/gen.py <out_dir> <seed> <json sizes>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("join hash row batch scan customer column filter small slow merge order "
         "vector line data table agg value key stream window spark a group part "
         "big sort query fast the").split()
EVENT_TYPES = ["error", "view", "purchase", "click", "signup"]
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["red", "old", "cold", "blue", "hot", "small", "new", "large"]
PART_NOUN = ["bolt", "anvil", "plate", "gear", "ring", "widget", "rod", "gizmo"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]

US_PER_DAY = 86_400_000_000
JAN_2024_US = 1_704_067_200_000_000


def day_us(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def ts_col(us):
    return pa.array(np.asarray(us, dtype=np.int64), type=pa.int64()).cast(pa.timestamp("us"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def events(rng, n, users, days):
    ts = np.sort(rng.integers(0, days * US_PER_DAY, n)) + JAN_2024_US
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    k = rng.integers(0, 100, n)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": ts_col(ts),
        "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {x}}}' for x in k]),
    })


def documents(rng, n):
    texts = []
    for _ in range(n):
        words = [VOCAB[i] for i in rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]
        if rng.random() < 0.05:
            words += ["dup"] * int(rng.integers(1, 3))
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng, n, dim=64):
    v = rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def star(rng, customers, orders, lineitems):
    lo, hi = day_us(1995, 1, 1), day_us(2001, 8, 1)
    odate = lo + rng.integers(0, (hi - lo) // US_PER_DAY + 1, orders) * US_PER_DAY
    slo, shi = day_us(1995, 1, 2), day_us(2001, 11, 4)
    sdate = slo + rng.integers(0, (shi - slo) // US_PER_DAY + 1, lineitems) * US_PER_DAY
    parts = 2000
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(customers, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(customers)]),
            "c_nationkey": pa.array(rng.integers(0, 25, customers).astype(np.int32)),
            "c_acctbal": pa.array(money(rng, -999.99, 9999.99, customers)),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, customers)]),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(100, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(100)]),
            "s_nationkey": pa.array(rng.integers(0, 25, 100).astype(np.int32)),
            "s_acctbal": pa.array(money(rng, -999.99, 9999.99, 100)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(parts, dtype=np.int64)),
            "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                                zip(rng.integers(0, 8, parts), rng.integers(0, 8, parts))]),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, parts)]),
            "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, parts)]),
            "p_size": pa.array(rng.integers(1, 51, parts).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(parts) % 1000) * 0.1, 2)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(orders, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, customers, orders).astype(np.int64)),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, orders)]),
            "o_totalprice": pa.array(money(rng, 1000.0, 500000.0, orders)),
            "o_orderdate": ts_col(odate),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, orders)]),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, orders, lineitems).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, parts, lineitems).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, 100, lineitems).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, lineitems).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, lineitems).astype(np.float64)),
            "l_extendedprice": pa.array(money(rng, 900.0, 105000.0, lineitems)),
            "l_discount": pa.array(rng.integers(0, 11, lineitems) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, lineitems) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, lineitems)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, lineitems)]),
            "l_shipdate": ts_col(sdate),
        }),
    }


def generate(out, seed, sizes):
    """Write every table under `out` and return the layout record."""
    rng = np.random.default_rng(seed)
    tables = star(rng, sizes["customers"], sizes["orders"], sizes["lineitems"])
    tables["events"] = events(rng, sizes["events"], sizes["users"], sizes["days"])
    tables["documents"] = documents(rng, sizes["documents"])
    tables["embeddings"] = embeddings(rng, sizes["embeddings"])
    os.makedirs(out, exist_ok=True)
    layout = {}
    for name, t in tables.items():
        path = os.path.join(out, f"{name}.parquet")
        pq.write_table(t, path, row_group_size=max(1, t.num_rows))
        meta = pq.ParquetFile(path).metadata
        layout[name] = {"rows": meta.num_rows, "files": 1, "row_groups": meta.num_row_groups,
                        "bytes": os.path.getsize(path)}
    return layout


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), json.loads(sys.argv[3]))))
