"""Seeded input tables for the benchmark.

Writes the tables of the batch workload as the engine's `Tables`
loaders read them (`<dir>/<name>.parquet`, one file each), with the
shapes and value domains of the engine's test data: a TPC-H-like star
schema and an `events` stream table. Row counts scale
linearly with the scale factor; sf0.1 gives 600,000 lineitems.

The same (seed, sf) always gives byte-identical tables.

    python3 perfbench/gen.py <out_dir> --seed 7 --sf 0.05
"""
import argparse
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows at sf0.1
BASE_ROWS = {
    "customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
    "lineitem": 600000, "events": 100000,
}
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def rows(table, sf):
    return max(1, int(round(BASE_ROWS[table] * sf / 0.1)))


def ts_us(start, n_days, r, n):
    """Timestamps (microseconds, no zone) uniform over n_days from start."""
    base = int(dt.datetime(*start, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    return base + r.integers(0, n_days * 86_400_000_000, n)


def day_us(start, n_days, r, n):
    base = int(dt.datetime(*start, tzinfo=dt.timezone.utc).timestamp()) // 86400
    return (base + r.integers(0, n_days, n)) * 86_400_000_000


def money(r, lo, hi, n):
    return np.round(r.uniform(lo, hi, n), 2)


def tables(seed, sf):
    r = np.random.Generator(np.random.PCG64(seed))
    ts_type = pa.timestamp("us")
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    n = rows("customer", sf)
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "c_acctbal": money(r, -999.99, 9999.99, n),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n)]})
    n_cust = n

    n = rows("supplier", sf)
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "s_acctbal": money(r, -999.99, 9999.99, n)})
    n_supp = n

    n = rows("part", sf)
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": np.array(names)[r.integers(0, len(names), n)],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n)],
        "p_type": np.array(PART_TYPES)[r.integers(0, 6, n)],
        "p_size": pa.array(r.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 1)})
    n_part = n

    n = rows("orders", sf)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n)],
        "o_totalprice": money(r, 1000.0, 500000.0, n),
        "o_orderdate": pa.array(day_us((1995, 1, 1), 2404, r, n), ts_type),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n)]})
    n_ord = n

    n = rows("lineitem", sf)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n), pa.int32()),
        "l_quantity": r.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": money(r, 900.0, 105000.0, n),
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n)],
        "l_shipdate": pa.array(day_us((1995, 1, 2), 2498, r, n), ts_type)})

    n = rows("events", sf)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(np.sort(ts_us((2024, 1, 1), 30, r, n)), ts_type),
        "user_id": pa.array(r.integers(0, 1500, n), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n)],
        "value": np.round(r.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)]})

    return out


def generate(out_dir, seed, sf):
    """Write every table into out_dir unless a finished copy is there."""
    done = os.path.join(out_dir, "_DONE")
    if os.path.exists(done):
        return
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed, sf).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    open(done, "w").close()


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--sf", type=float, default=0.1)
    a = ap.parse_args()
    generate(a.out_dir, a.seed, a.sf)
