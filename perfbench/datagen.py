"""Seeded synthetic inputs for the benchmark.

The tables have the same names, columns and types as the TPC-H-style
test tables the engine's queries are written against (region, nation,
customer, supplier, orders, lineitem). Everything is drawn from one
``numpy`` generator seeded by ``--seed``, so one seed always gives the
same rows. Row counts are those of TPC-H scale factor 0.01: 15 000
orders, about 60 000 lineitems.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]

EPOCH = dt.datetime(1992, 1, 1)
ORDER_DAYS = 2400  # order dates span 1992-01-01 .. 1998-07-28

N_CUSTOMER, N_SUPPLIER, N_ORDERS = 1500, 100, 15000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(days):
    """Day offsets from EPOCH -> pyarrow timestamp[us] array."""
    base = np.datetime64(EPOCH, "us")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def tpch_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_c, n_s, n_o = N_CUSTOMER, N_SUPPLIER, N_ORDERS

    region = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_c)].tolist(),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_s),
    })
    # as in TPC-H, a third of the customers never order (q13's zero bucket)
    buyers = np.arange(n_c)[np.arange(n_c) % 3 != 0]
    odays = rng.integers(0, ORDER_DAYS, n_o)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
        "o_custkey": pa.array(rng.choice(buyers, n_o), pa.int64()),
        "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, n_o)].tolist(),
        "o_totalprice": _money(rng, 1000, 400000, n_o),
        "o_orderdate": _ts(odays),
        "o_orderpriority": np.array(PRIORITIES)[
            rng.integers(0, 5, n_o)].tolist(),
    })
    lines = rng.integers(1, 8, n_o)
    okey = np.repeat(np.arange(n_o), lines)
    n_l = len(okey)
    first = np.cumsum(lines) - lines
    linenumber = np.arange(n_l) - np.repeat(first, lines) + 1
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    shipdays = np.repeat(odays, lines) + rng.integers(1, 122, n_l)
    lineitem = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 2000, n_l), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_s, n_l), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 900, 2100, n_l), 2),
        "l_discount": np.round(rng.integers(0, 11, n_l) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_l) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[
            rng.integers(0, 3, n_l)].tolist(),
        "l_linestatus": np.where(shipdays > 2300, "O", "F").tolist(),
        "l_shipdate": _ts(shipdays),
    })
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "orders": orders, "lineitem": lineitem}


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> dict[str, str]:
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, table in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths
