"""Seeded star-schema tables for the ``olap_mix`` workload.

The same schema and value domains as the engine's sf0.1 test tables,
at a quarter of their row counts (150k ``lineitem``, 37.5k ``orders``,
3,750 ``customer``, 25k ``events``; all 25 nations in 5 regions), drawn
from the run seed and written as one parquet file per table. A quarter
keeps a run's cold first pass over every operation inside the
benchmark's time budget; per-query planning and job scheduling, which
dominate a catalog read at this size, do not shrink with the data. Only the tables the workload's
catalog queries read are written.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {"customer": 3_750, "orders": 37_500, "lineitem": 150_000, "events": 25_000}
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
DAY_US = 86_400 * 1_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: tuple[str, ...], n: int) -> pa.Array:
    return pa.array(np.asarray(values)[rng.integers(0, len(values), n)])


def _days(rng: np.random.Generator, lo: int, hi: int, n: int) -> pa.Array:
    return pa.array(EPOCH_1995 + rng.integers(lo, hi + 1, n) * np.timedelta64(1, "D"))


def make_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 0x0A1A])
    n_c, n_o, n_l, n_e = (ROWS[t] for t in ("customer", "orders", "lineitem", "events"))
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_c, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_c)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_c, dtype=np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_c)),
            "c_mktsegment": _pick(rng, SEGMENTS, n_c),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_o, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_c, n_o, dtype=np.int64)),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_o),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_o)),
            "o_orderdate": _days(rng, 0, 2404, n_o),
            "o_orderpriority": _pick(rng, PRIORITIES, n_o),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_o, n_l, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, 20_000, n_l, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, 1_000, n_l, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_l, dtype=np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_l).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_l)),
            "l_discount": pa.array(rng.integers(0, 11, n_l) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_l) / 100.0),
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_l),
            "l_linestatus": _pick(rng, ("F", "O"), n_l),
            "l_shipdate": _days(rng, 1, 2499, n_l),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_e, dtype=np.int64)),
            "ts": pa.array(np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, n_e) * np.timedelta64(1, "us"))),
            "user_id": pa.array(rng.integers(0, 1500, n_e, dtype=np.int64)),
            "event_type": _pick(rng, EVENT_TYPES, n_e),
            "value": pa.array(np.round(rng.exponential(60.0, n_e), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]),
        }),
    }
    return tables


def write_tables(seed: int, out_dir: str) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
