"""Generate the sf0.1-shaped parquet tables query_mix reads.

The shapes follow the program's test tables (a TPC-H-like star schema plus
an `events` table): the same names, columns, types, row counts and value
domains, with row groups of at most ROW_GROUP rows, so that the larger tables
are scanned by several tasks at once. The data seed is a constant, so every
checkout generates byte-identical tables and the query digests recorded in
query_digests.tsv stay valid; the run seed only orders the queries.

Usage: python3 gen_tables.py OUT_DIR
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20260101
ROW_GROUP = 50_000
US_PER_DAY = 86_400_000_000


def day_us(s):
    return int(np.datetime64(s, "us").astype(np.int64))


def ts(values_us):
    return pa.array(values_us, type=pa.timestamp("us"))


def tables(rng):
    n_cust, n_supp, n_part, n_orders, n_events = 15_000, 1_000, 20_000, 150_000, 100_000
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adjectives = np.array(["large", "hot", "blue", "green", "small", "shiny", "old", "red"])
    nouns = np.array(["ring", "bolt", "gear", "nut", "pipe", "valve", "screw", "plate"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adjectives[rng.integers(0, 8, n_part)], " "),
                              nouns[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 2000) * 0.1, 2)})
    o_start, o_days = day_us("1995-01-01"), 2404
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
        "o_orderdate": ts(o_start + rng.integers(0, o_days, n_orders) * US_PER_DAY),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_orders)]})
    lines = rng.integers(1, 8, n_orders)
    n_li = int(lines.sum())
    first = np.repeat(np.cumsum(lines) - lines, lines)
    out["lineitem"] = pa.table({
        "l_orderkey": np.repeat(np.arange(n_orders, dtype=np.int64), lines),
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": pa.array((np.arange(n_li) - first + 1).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": ts(day_us("1995-01-02") + rng.integers(0, 2498, n_li) * US_PER_DAY)})
    gaps = rng.integers(1, 2 * 30 * US_PER_DAY // n_events, n_events)
    out["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ts(day_us("2024-01-01") + np.cumsum(gaps)),
        "user_id": rng.integers(0, 1500, n_events, dtype=np.int64),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_events)],
        "value": np.round(np.minimum(rng.exponential(60.0, n_events), 560.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    return out


def generate(out_dir):
    """Write every table into out_dir (atomically: a temp dir, then rename)."""
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, table in tables(np.random.default_rng(DATA_SEED)).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"), compression="snappy",
                       row_group_size=ROW_GROUP)
    os.replace(tmp, out_dir)


if __name__ == "__main__":
    generate(sys.argv[1])
