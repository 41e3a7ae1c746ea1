"""Seeded star-schema tables for the ``registry`` workload.

``write_tables`` writes ``region nation customer supplier part orders
lineitem events`` as one parquet file each, with the column names,
types and value domains of the repository's testdata tables (TPC-H-like
keys, segments, flags, priorities and dates; a month of events), at a
size of its own. The same seed writes the same tables. The registry
queries read them through ``sources.files.load_table``, and the DuckDB
oracle reads the same files.
"""

from __future__ import annotations

import os
import numpy as np

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["blue", "green", "red", "black", "white", "small", "large", "tiny"]
NOUNS = ["anvil", "widget", "gear", "bolt", "spring", "valve", "lever", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

# rows per table; lineitem has 1-7 lines per order
SIZES = {
    "customer": 300,
    "supplier": 20,
    "part": 400,
    "orders": 3_000,
    "events": 3_000,
    "users": 30,
}
US = 10**6
ORDER_DAY0 = np.datetime64("1995-01-01", "us")
ORDER_DAYS = 2404  # to 2001-08-01
EVENT_T0 = np.datetime64("2024-01-01", "us")
EVENT_DAYS = 30


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform amounts with two decimals."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100


def _pick(rng, values: list[str], n: int) -> list[str]:
    return [values[i] for i in rng.integers(0, len(values), n)]


def build_tables(seed: int) -> dict:
    """The tables as ``name -> pyarrow.Table``."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    ts = pa.timestamp("us")
    out = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), i32),
                "r_name": REGIONS,
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": [f"NATION_{k}" for k in range(25)],
                "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
            }
        ),
    }

    n = SIZES["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(n), i64),
            "c_name": [f"Customer#{k:09d}" for k in range(n)],
            "c_nationkey": pa.array(rng.integers(0, 25, n), i32),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n), f64),
            "c_mktsegment": _pick(rng, SEGMENTS, n),
        }
    )
    n = SIZES["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n), i64),
            "s_name": [f"Supplier#{k:09d}" for k in range(n)],
            "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n), f64),
        }
    )
    n = SIZES["part"]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(range(n), i64),
            "p_name": [
                f"{COLORS[a]} {NOUNS[b]}"
                for a, b in rng.integers(0, len(NOUNS), (n, 2))
            ],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n)],
            "p_type": _pick(rng, PART_TYPES, n),
            "p_size": pa.array(rng.integers(1, 51, n), i32),
            "p_retailprice": pa.array([900 + (k % 1000) / 10 for k in range(n)], f64),
        }
    )

    n = SIZES["orders"]
    orderdate = ORDER_DAY0 + rng.integers(0, ORDER_DAYS + 1, n) * 86_400 * US
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(n), i64),
            "o_custkey": pa.array(rng.integers(0, SIZES["customer"], n), i64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
            "o_totalprice": pa.array(_money(rng, 1000, 500_000, n), f64),
            "o_orderdate": pa.array(orderdate, ts),
            "o_orderpriority": _pick(rng, PRIORITIES, n),
        }
    )

    lines = rng.integers(1, 8, n)
    order = np.repeat(np.arange(n), lines)
    m = len(order)
    linenumber = np.arange(m) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    shipdate = orderdate[order] + rng.integers(1, 122, m) * 86_400 * US
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(order, i64),
            "l_partkey": pa.array(rng.integers(0, SIZES["part"], m), i64),
            "l_suppkey": pa.array(rng.integers(0, SIZES["supplier"], m), i64),
            "l_linenumber": pa.array(linenumber, i32),
            "l_quantity": pa.array(rng.integers(1, 51, m).astype(float), f64),
            "l_extendedprice": pa.array(_money(rng, 900, 105_000, m), f64),
            "l_discount": pa.array(rng.integers(0, 11, m) / 100, f64),
            "l_tax": pa.array(rng.integers(0, 9, m) / 100, f64),
            "l_returnflag": _pick(rng, ["A", "N", "R"], m),
            "l_linestatus": _pick(rng, ["F", "O"], m),
            "l_shipdate": pa.array(shipdate, ts),
        }
    )

    n = SIZES["events"]
    out["events"] = pa.table(
        {
            "event_id": pa.array(range(n), i64),
            "ts": pa.array(
                EVENT_T0 + rng.integers(0, EVENT_DAYS * 86_400 * US, n), ts
            ),
            "user_id": pa.array(rng.integers(0, SIZES["users"], n), i64),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": pa.array(np.round(rng.exponential(40.0, n), 2), f64),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )
    return out


def write_tables(dest: str, seed: int) -> dict[str, int]:
    """Write every table as ``dest/<name>.parquet``; returns the row
    counts."""
    import pyarrow.parquet as pq

    os.makedirs(dest, exist_ok=True)
    rows = {}
    for name, table in build_tables(seed).items():
        pq.write_table(table, os.path.join(dest, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
