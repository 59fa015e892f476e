"""Seeded generator for the TPC-H-shaped tables the ad-hoc queries read.

Same table names, column names, Parquet types and value domains as the
repository's query test data (``region nation customer supplier part
orders lineitem events``), at a size set by the customer count. Each
table is written as a directory of Parquet files
(``<dir>/<table>.parquet/part-<i>.parquet``), the shape a real lake has,
so scans arrive split without the single-file split mirror.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_WORDS = (("blue", "red", "green", "black", "small", "large", "shiny", "old"),
              ("anvil", "widget", "bolt", "ring", "gear", "pipe", "spring", "valve"))
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
ORDER_EPOCH = np.datetime64("1995-01-01", "D")
EVENT_EPOCH = np.datetime64("2024-01-01", "us")


def _write(table: pa.Table, data_dir: str, name: str, files: int) -> None:
    d = os.path.join(data_dir, f"{name}.parquet")
    os.makedirs(d, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), os.path.join(d, f"part-{i}.parquet"))


def _labels(prefix: str, keys: np.ndarray, width: int) -> np.ndarray:
    return np.char.add(prefix, np.char.zfill(keys.astype(str), width))


def _pick(rng, values, n) -> np.ndarray:
    return np.array(values)[rng.integers(0, len(values), n)]


def write_tables(data_dir: str, seed: int, customers: int, files: int = 4) -> dict[str, int]:
    """Write every table under ``data_dir``; returns {table: rows}."""
    rng = np.random.default_rng([seed, 3])
    n_cust, n_supp, n_part = customers, max(25, customers // 15), customers * 4 // 3
    n_orders, n_users = customers * 10, max(50, customers // 10)
    i32 = np.int32
    tables = {
        "region": pa.table({"r_regionkey": np.arange(5, dtype=i32), "r_name": REGIONS}),
        "nation": pa.table({
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": np.char.add("NATION_", np.arange(25).astype(str)),
            "n_regionkey": (np.arange(25) % 5).astype(i32),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": _labels("Customer#", np.arange(n_cust), 9),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": _labels("Supplier#", np.arange(n_supp), 9),
            "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.char.add(np.char.add(_pick(rng, PART_WORDS[0], n_part), " "),
                                  _pick(rng, PART_WORDS[1], n_part)),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(i32),
            "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10, 2),
        }),
    }
    order_day = ORDER_EPOCH + rng.integers(0, 2404, n_orders).astype("timedelta64[D]")
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_orders),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
        "o_orderdate": order_day.astype("datetime64[us]"),
        "o_orderpriority": _pick(rng, PRIORITIES, n_orders),
    })
    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    n_li = len(okey)
    linenumber = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    ship = np.repeat(order_day, lines) + rng.integers(1, 121, n_li).astype("timedelta64[D]")
    tables["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": linenumber.astype(i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
        "l_linestatus": _pick(rng, ("F", "O"), n_li),
        "l_shipdate": ship.astype("datetime64[us]"),
    })
    n_ev = n_users * 60
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": EVENT_EPOCH + rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}"),
    })
    for name, t in tables.items():
        _write(t, data_dir, name, files if t.num_rows > 10_000 else 1)
    return {name: t.num_rows for name, t in tables.items()}
