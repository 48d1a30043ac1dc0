"""Deterministic source tables for the benchmark.

The tables follow the schema of the engine's TPC-H-ish test data
(region, nation, customer, supplier, part, orders, lineitem). Every money
column holds whole cents, so sums of cents are exact on both engines
whatever the summation order.

`generate(out_dir, scale)` writes one parquet file per table. The data
depends only on `scale` and DATA_SEED: it is the benchmark's fixed mirror,
built once per checkout; the workload seed picks the statements.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20261017

# Scale 1.0 matches the row counts of the engine's sf0.1 test data.
ORDERS_PER_SCALE = 150_000

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ["ring", "bolt", "gear", "pipe", "valve", "spring", "hot",
              "large", "small", "steel", "brass", "blue"]

DAY_US = 86_400 * 1_000_000
EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01 00:00:00 UTC
DATE_SPAN_DAYS = 2_400


def sizes(scale):
    n_orders = max(200, int(ORDERS_PER_SCALE * scale))
    return {
        "orders": n_orders,
        "customer": max(20, n_orders // 10),
        "part": max(40, int(n_orders * 2 // 15)),
        "supplier": max(10, n_orders // 150),
    }


def _cents(rng, lo, hi, n):
    return rng.integers(lo, hi, n).astype(np.float64) / 100.0


def _ts(days):
    return pa.array(EPOCH_1995_US + days.astype(np.int64) * DAY_US,
                    type=pa.timestamp("us"))


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir, scale):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    n = sizes(scale)
    n_o, n_c, n_p, n_s = n["orders"], n["customer"], n["part"], n["supplier"]

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array([f"REGION_{i}" for i in range(5)]),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_c, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_c).astype(np.int32)),
        "c_acctbal": pa.array(_cents(rng, -99_999, 999_999, n_c)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_c).tolist()),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_s, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_s)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_s).astype(np.int32)),
        "s_acctbal": pa.array(_cents(rng, -99_999, 999_999, n_s)),
    })
    w = rng.integers(0, len(PART_WORDS), (n_p, 2))
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_p, dtype=np.int64)),
        "p_name": pa.array([f"{PART_WORDS[a]} {PART_WORDS[b]}"
                            for a, b in w]),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_p)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_p).tolist()),
        "p_size": pa.array(rng.integers(1, 51, n_p).astype(np.int32)),
        "p_retailprice": pa.array(_cents(rng, 90_000, 200_000, n_p)),
    })

    okey = np.arange(n_o, dtype=np.int64)
    odays = rng.integers(0, DATE_SPAN_DAYS, n_o)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(okey),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_o).tolist()),
        "o_totalprice": pa.array(_cents(rng, 100_000, 50_000_000, n_o)),
        "o_orderdate": _ts(odays),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_o).tolist()),
    })

    lines = rng.integers(1, 8, n_o)
    n_l = int(lines.sum())
    l_okey = np.repeat(okey, lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_line = (np.arange(n_l) - starts + 1).astype(np.int32)
    ship = np.repeat(odays, lines) + rng.integers(1, 122, n_l)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(l_okey),
        "l_partkey": pa.array(rng.integers(0, n_p, n_l).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_s, n_l).astype(np.int64)),
        "l_linenumber": pa.array(l_line),
        "l_quantity": pa.array(rng.integers(1, 51, n_l).astype(np.float64)),
        "l_extendedprice": pa.array(_cents(rng, 90_000, 10_000_000, n_l)),
        "l_discount": pa.array(rng.integers(0, 11, n_l) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_l) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_l).tolist()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_l).tolist()),
        "l_shipdate": _ts(ship),
    })

