"""Seeded generator for the benchmark's input tables.

Every table the benchmark feeds the engine is made here from the run's
``--seed``: the same seed writes byte-identical parquet. Shapes follow
the repository's TPC-H-like star schema (see FIXTURES.md) at scale
factor 0.1, so the engine sees the schema its queries were written for.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_NATION = 25
N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_ORDERS = 150_000

ORDER_DAY0 = dt.date(1995, 1, 1)
ORDER_DAYS = (dt.date(2001, 8, 1) - ORDER_DAY0).days
EVENT_T0 = dt.datetime(2024, 1, 1)
EVENT_SPAN_S = 30 * 86_400

SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])


def _ts_ms(days: np.ndarray) -> pa.Array:
    """Days since ORDER_DAY0 → timestamp[ms] (midnight UTC)."""
    epoch_day0 = (ORDER_DAY0 - dt.date(1970, 1, 1)).days
    return pa.array((days.astype(np.int64) + epoch_day0) * 86_400_000, pa.timestamp("ms"))


def _write(table: pa.Table, out_dir: str, name: str) -> str:
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(table, path)
    return path


def orders_table(rng: np.random.Generator, n: int = N_ORDERS) -> pa.Table:
    """Orders with keys ``0..n-1``; prices are whole cents so sums are
    exact after ``round(x * 100)``."""
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, n, dtype=np.int64)),
            "o_orderstatus": pa.array(rng.choice(np.array(["F", "O", "P"]), n)),
            "o_totalprice": pa.array(rng.integers(100_000, 50_000_000, n) / 100.0),
            "o_orderdate": _ts_ms(rng.integers(0, ORDER_DAYS, n)),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n)),
        }
    )


def write_star(rng: np.random.Generator, out_dir: str) -> dict[str, str]:
    """Write region, nation, customer, supplier, part, orders and
    lineitem (about 600k rows) under ``out_dir``; returns name → path."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    paths["region"] = _write(
        pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        out_dir,
        "region",
    )
    paths["nation"] = _write(
        pa.table(
            {
                "n_nationkey": pa.array(np.arange(N_NATION, dtype=np.int32)),
                "n_name": [f"NATION_{i}" for i in range(N_NATION)],
                "n_regionkey": pa.array(np.arange(N_NATION, dtype=np.int32) % 5),
            }
        ),
        out_dir,
        "nation",
    )
    paths["customer"] = _write(
        pa.table(
            {
                "c_custkey": pa.array(np.arange(N_CUSTOMER, dtype=np.int64)),
                "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
                "c_nationkey": pa.array(rng.integers(0, N_NATION, N_CUSTOMER, dtype=np.int32)),
                "c_acctbal": pa.array(rng.integers(-99_999, 999_999, N_CUSTOMER) / 100.0),
                "c_mktsegment": pa.array(rng.choice(SEGMENTS, N_CUSTOMER)),
            }
        ),
        out_dir,
        "customer",
    )
    paths["supplier"] = _write(
        pa.table(
            {
                "s_suppkey": pa.array(np.arange(N_SUPPLIER, dtype=np.int64)),
                "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
                "s_nationkey": pa.array(rng.integers(0, N_NATION, N_SUPPLIER, dtype=np.int32)),
                "s_acctbal": pa.array(rng.integers(-99_999, 999_999, N_SUPPLIER) / 100.0),
            }
        ),
        out_dir,
        "supplier",
    )
    paths["part"] = _write(
        pa.table(
            {
                "p_partkey": pa.array(np.arange(N_PART, dtype=np.int64)),
                "p_name": [f"part {i}" for i in range(N_PART)],
                "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, N_PART).astype(str))),
                "p_type": pa.array(rng.choice(np.array(["SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]), N_PART)),
                "p_size": pa.array(rng.integers(1, 51, N_PART, dtype=np.int32)),
                "p_retailprice": pa.array(rng.integers(90_000, 200_000, N_PART) / 100.0),
            }
        ),
        out_dir,
        "part",
    )
    orders = orders_table(rng)
    paths["orders"] = _write(orders, out_dir, "orders")

    lines_per_order = rng.integers(1, 8, N_ORDERS)
    n_lines = int(lines_per_order.sum())
    l_orderkey = np.repeat(np.arange(N_ORDERS, dtype=np.int64), lines_per_order)
    starts = np.cumsum(lines_per_order) - lines_per_order
    l_linenumber = (np.arange(n_lines) - np.repeat(starts, lines_per_order) + 1).astype(np.int32)
    order_days = (
        orders.column("o_orderdate").to_numpy().astype("datetime64[D]")
        - np.datetime64(ORDER_DAY0)
    ).astype(np.int64)
    l_shipdays = order_days[l_orderkey] + rng.integers(1, 122, n_lines)
    paths["lineitem"] = _write(
        pa.table(
            {
                "l_orderkey": pa.array(l_orderkey),
                "l_partkey": pa.array(rng.integers(0, N_PART, n_lines, dtype=np.int64)),
                "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n_lines, dtype=np.int64)),
                "l_linenumber": pa.array(l_linenumber),
                "l_quantity": pa.array(rng.integers(1, 51, n_lines).astype(np.float64)),
                "l_extendedprice": pa.array(rng.integers(90_000, 10_000_000, n_lines) / 100.0),
                "l_discount": pa.array(rng.integers(0, 11, n_lines) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n_lines) / 100.0),
                "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), n_lines)),
                "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), n_lines)),
                "l_shipdate": _ts_ms(l_shipdays),
            }
        ),
        out_dir,
        "lineitem",
    )
    return paths


def write_events(rng: np.random.Generator, out_dir: str, n: int) -> str:
    """Write ``n`` events with ids ``0..n-1`` as ``events.parquet``."""
    rows = events_rows(rng, 0, n)
    cols = list(zip(*rows))
    table = pa.table(
        {
            "event_id": pa.array(cols[0], pa.int64()),
            "ts": pa.array(cols[1], pa.timestamp("us")),
            "user_id": pa.array(cols[2], pa.int64()),
            "event_type": pa.array(cols[3], pa.string()),
            "value": pa.array(cols[4], pa.float64()),
            "props": pa.array(cols[5], pa.string()),
        }
    )
    return _write(table, out_dir, "events")


def events_rows(rng: np.random.Generator, first_id: int, n: int) -> list[tuple]:
    """``n`` events with ids ``first_id..first_id+n-1`` as Python rows
    (event_id, ts, user_id, event_type, value, props)."""
    secs = rng.integers(0, EVENT_SPAN_S, n)
    users = rng.integers(0, 1_500, n)
    kinds = rng.choice(EVENT_TYPES, n)
    values = rng.integers(0, 50_000, n) / 100.0
    props = rng.integers(0, 100, n)
    return [
        (
            first_id + i,
            EVENT_T0 + dt.timedelta(seconds=int(secs[i])),
            int(users[i]),
            str(kinds[i]),
            float(values[i]),
            f'{{"k": {int(props[i])}}}',
        )
        for i in range(n)
    ]


EVENTS_DDL = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)
