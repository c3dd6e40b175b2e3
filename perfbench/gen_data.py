"""Deterministic TPC-H-shaped tables for the serving-path benchmark.

Writes region, nation, supplier, customer, orders and lineitem as one
snappy Parquet file each, with one row group per file, the same column
names and types as the engine's own test tables. Unlike those tables,
(l_orderkey, l_linenumber) is unique here, so an ordered result has a
single correct row order and can be checked with an order-sensitive hash.

    python3 perfbench/gen_data.py <out_dir> <scale_factor>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
DAY_US = 86_400 * 1_000_000
EPOCH_1995 = 9131  # days from 1970-01-01 to 1995-01-01


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _days(rng, lo, hi, n):
    d = rng.integers(lo, hi, n) + EPOCH_1995
    return pa.array(d.astype(np.int64) * DAY_US, pa.timestamp("us"))


def _pick(rng, words, n):
    return pa.array(np.array(words, dtype=object)[rng.integers(0, len(words), n)])


def tables(sf):
    rng = np.random.default_rng(SEED)
    n_supp = max(int(10_000 * sf), 10)
    n_cust = max(int(150_000 * sf), 150)
    n_ord = max(int(1_500_000 * sf), 1500)
    n_line = 4 * n_ord
    i32, i64 = pa.int32(), pa.int64()
    region = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS)})
    nation = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    supplier = pa.table({
        "s_suppkey": pa.array(range(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    customer = pa.table({
        "c_custkey": pa.array(range(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    orders = pa.table({
        "o_orderkey": pa.array(range(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days(rng, 0, 2404, n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    # line numbers count 1.. within each order, so (orderkey, linenumber)
    # is a key; rows are then shuffled so the file is not clustered
    okey = np.sort(rng.integers(0, n_ord, n_line))
    first = np.r_[0, np.flatnonzero(np.diff(okey)) + 1]
    run_start = np.repeat(first, np.diff(np.r_[first, n_line]))
    lnum = np.arange(n_line) - run_start + 1
    perm = rng.permutation(n_line)
    lineitem = pa.table({
        "l_orderkey": pa.array(okey[perm], i64),
        "l_partkey": pa.array(rng.integers(0, 20 * n_supp, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(lnum[perm], i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, 1, 2499, n_line)})
    return {"region": region, "nation": nation, "supplier": supplier,
            "customer": customer, "orders": orders, "lineitem": lineitem}


def main(out_dir, sf):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(sf).items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(t, tmp, compression="snappy",
                       row_group_size=t.num_rows)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    main(sys.argv[1], float(sys.argv[2]))
