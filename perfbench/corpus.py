"""Seeded synthetic corpus for the analytics workload.

Writes the ten tables the engine's registry queries read (TPC-H-like star
schema plus `events`, `documents` and `embeddings`), one single-row-group
parquet file each, with the column names and types the queries expect.
The same (seed, scale) always gives the same files.

    python3 perfbench/corpus.py <outDir> <seed> [scale]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "hot", "large", "new", "old", "red", "small", "shiny"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "widget", "spring"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = ("a the key agg row scan slow fast table value part hash batch merge "
         "spark window order data column join small line customer query big "
         "filter sort group stream vector").split()
DAY_US = 86_400_000_000


def _ts(base, offsets_us):
    return pa.array(np.datetime64(base, "us") + offsets_us.astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def tables(seed, scale):
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_line, n_doc = int(1_500_000 * scale), int(6_000_000 * scale), int(50_000 * scale)
    n_users, n_events = int(15_000 * scale), int(1_000_000 * scale)
    pick = lambda xs, n: pa.array(np.array(xs, dtype=object)[rng.integers(0, len(xs), n)].tolist())
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)
    keys = lambda n: pa.array(np.arange(n, dtype=np.int64))

    out = {}
    out["region"] = pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                              "r_name": REGIONS})
    out["nation"] = pa.table({"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                              "n_name": [f"NATION_{i}" for i in range(25)],
                              "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    out["customer"] = pa.table({
        "c_custkey": keys(n_cust),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": keys(n_supp),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    out["part"] = pa.table({
        "p_partkey": keys(n_part),
        "p_name": [f"{a} {b}" for a, b in zip(
            np.array(ADJECTIVES)[rng.integers(0, 8, n_part)],
            np.array(NOUNS)[rng.integers(0, 8, n_part)])],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": pick(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    out["orders"] = pa.table({
        "o_orderkey": keys(n_ord),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord) * DAY_US),
        "o_orderpriority": pick(PRIORITIES, n_ord)})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["F", "O"], n_line),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n_line) * DAY_US)})
    out["events"] = pa.table({
        "event_id": keys(n_events),
        "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * DAY_US, n_events))),
        "user_id": pa.array(rng.integers(0, n_users, n_events)),
        "event_type": pick(EVENT_TYPES, n_events),
        "value": money(0.01, 490.0, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    texts = [" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), m)])
             for m in rng.integers(10, 90, n_doc)]
    out["documents"] = pa.table({
        "doc_id": keys(n_doc),
        "text": texts,
        "lang": pick(LANGS, n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    emb = rng.normal(0.0, 1.0, (n_doc, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": keys(n_doc),
        "embedding": pa.array(emb.tolist(), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_doc).astype(np.int32))})
    return out


def write(out_dir, seed, scale):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(table.num_rows, 1))


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]) if len(sys.argv) > 3 else 0.01)
