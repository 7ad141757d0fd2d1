"""Deterministic input tables for the benchmark.

The tables have the schemas, row counts and value distributions of the
engine's sf0.1 test tables (TPC-H-like `region`, `customer`, `orders`
and `lineitem`, and an `events` stream), measured column by column;
README.md lists the figures. They are generated from a fixed seed, not
from the workload seed, so every run of every workload reads the same
bytes and only the query constants and load batches vary with `--seed`.

The files are written once per checkout under `.perfbench_data/` and
reused while the generator version matches.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VERSION = "2"
TABLE_SEED = 42

ROWS = {
    "region": 5,
    "customer": 15_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
}

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENTS_T0_US = 1_704_067_200 * 10**6  # 2024-01-01T00:00:00Z
EVENT_DAYS = 30
EVENT_USERS = 1_500
EVENT_VALUE_MEAN = 50.0


def _ts_us(rng, n, lo_days, hi_days):
    """Midnight timestamps, as µs since the epoch, `lo..hi` days in."""
    days = rng.integers(lo_days, hi_days, n)
    return pa.array(days * 86_400_000_000, type=pa.timestamp("us"))


def build_tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(TABLE_SEED)
    n_cust, n_ord, n_li, n_ev = (ROWS[k] for k in ("customer", "orders", "lineitem", "events"))
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(np.round(rng.uniform(1_000, 500_000, n_ord), 2)),
            "o_orderdate": _ts_us(rng, n_ord, 9131, 11536),  # 1995-01-01 .. 2001-08-01
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, 20_000, n_li).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, 1_000, n_li).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, n_li), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
            "l_shipdate": _ts_us(rng, n_li, 9132, 11631),  # 1995-01-02 .. 2001-11-04
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            # µs precision, sorted, uniform over EVENT_DAYS
            "ts": pa.array(
                EVENTS_T0_US + np.sort(rng.integers(0, EVENT_DAYS * 86_400 * 10**6, n_ev)),
                type=pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, EVENT_USERS, n_ev).astype(np.int64)),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
            # skewed like the test table's: median about 35, tail past 500
            "value": pa.array(np.round(rng.exponential(EVENT_VALUE_MEAN, n_ev), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }),
    }
    return out


def ensure_tables(root: str) -> str:
    """Write the tables under `root` once; return their directory."""
    d = os.path.join(root, f"tables-v{VERSION}")
    if os.path.exists(os.path.join(d, "_DONE")):
        return d
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, tbl in build_tables().items():
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"), version="2.6")
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d
