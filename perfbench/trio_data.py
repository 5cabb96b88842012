"""Seeded ``orders`` and ``events`` tables for the warehouse-trio workload.

The selected trio branches read only these two tables. Shapes follow the
sf0.01 testdata (15,000 orders over 1995-01-01..2001-08-01 with
integral-cent prices; 10,000 events over January 2024), so every branch's
scripted cut points and claim bits see the data they were written for.
The DuckDB oracle reads the same files.
"""

from __future__ import annotations

import datetime as dt
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_ORDERS = 15_000
N_CUSTOMERS = 1_500
N_EVENTS = 10_000
N_USERS = 150


def write_tables(sf_dir: str, seed: int) -> None:
    rng = np.random.default_rng(seed)
    os.makedirs(sf_dir, exist_ok=True)
    first, last = dt.date(1995, 1, 1), dt.date(2001, 8, 1)
    day0 = np.datetime64(first, "us")
    span_days = (last - first).days
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(N_ORDERS, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, N_CUSTOMERS, N_ORDERS, dtype=np.int64)),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], N_ORDERS)),
            "o_totalprice": pa.array(rng.integers(100_000, 50_000_000, N_ORDERS) / 100.0),
            "o_orderdate": pa.array(
                day0 + rng.integers(0, span_days + 1, N_ORDERS) * np.timedelta64(1, "D"),
                pa.timestamp("us"),
            ),
            "o_orderpriority": pa.array(
                rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], N_ORDERS)
            ),
        }
    )
    pq.write_table(orders, os.path.join(sf_dir, "orders.parquet"))

    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, N_EVENTS))
    events = pa.table(
        {
            "event_id": pa.array(np.arange(N_EVENTS, dtype=np.int64)),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS, dtype=np.int64)),
            "event_type": pa.array(rng.choice(["click", "error", "purchase", "signup", "view"], N_EVENTS)),
            "value": pa.array(np.round(rng.exponential(50.0, N_EVENTS), 2) + 0.01),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]),
        }
    )
    pq.write_table(events, os.path.join(sf_dir, "events.parquet"))


def oracle_connection(sf_dir: str):
    """A DuckDB connection with the two tables as views."""
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in ("orders", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t)}.parquet'")
    return con
