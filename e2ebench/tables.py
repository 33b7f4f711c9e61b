"""Seeded TPC-H-ish tables for the ``catalog`` workload.

The catalog entries read ``{sf_dir}/<table>.parquet`` with the columns
and parquet types of the repo's testdata (see TESTDATA.md); this module
writes those tables from a seed, at a fixed size, so a run needs nothing
outside the checkout. The same seed gives byte-identical files; the
row counts do not depend on the seed.

The graph entries run fixpoint loops over the co-purchase graph (parts
sharing orders), and their rounds to fixpoint follow the graph's shape
and, for connected components' min-label propagation, its part keys.
So the graph is fixed: which order holds how many lines of which parts
comes from ``SHAPE_SEED``, and the seed draws every other value. Loop
lengths are then the same on every seed; with the seed relabelling the
parts, connected components took 3 to 5 rounds over ten seeds.

Only the tables the catalog mix reads are written: ``lineitem``,
``orders``, ``supplier`` and ``events``.
"""

from __future__ import annotations

from datetime import datetime
from pathlib import Path

import numpy as np

ORDERS = 4_000
LINES_PER_ORDER = 7  # orders have 1..7 lines, each count equally often
PARTS = 2_000
SUPPLIERS = 100
EVENTS = 10_000
USERS = 100
NATIONS = 25
SHAPE_SEED = 20_240_101

EVENT_TYPES = ["view", "click", "cart", "purchase", "error"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _days(base: datetime, days: np.ndarray) -> np.ndarray:
    return np.datetime64(base, "us") + days.astype("timedelta64[D]").astype("timedelta64[us]")


def make_catalog_tables(dirpath: str | Path, seed: int) -> dict[str, int]:
    """Write the tables under dirpath; returns rows per table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    out = Path(dirpath)
    out.mkdir(parents=True, exist_ok=True)

    shape = np.random.default_rng(SHAPE_SEED)
    lines = shape.permutation(1 + np.arange(ORDERS) % LINES_PER_ORDER)
    basket_parts = shape.integers(0, PARTS, int(lines.sum()))
    order_days = rng.integers(0, 7 * 365, ORDERS)
    n_lines = int(lines.sum())
    l_order = np.repeat(np.arange(ORDERS, dtype=np.int64), lines)
    l_number = np.concatenate([np.arange(1, k + 1, dtype=np.int32) for k in lines])
    ship_days = np.repeat(order_days, lines) + rng.integers(1, 122, n_lines)
    quantity = rng.integers(1, 51, n_lines).astype(np.float64)
    price = np.round(quantity * rng.uniform(900.0, 2100.0, n_lines), 2)
    base = datetime(1992, 1, 1)

    tables = {
        "supplier": {
            "s_suppkey": np.arange(SUPPLIERS, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(SUPPLIERS)],
            "s_nationkey": rng.integers(0, NATIONS, SUPPLIERS).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, SUPPLIERS), 2),
        },
        "orders": {
            "o_orderkey": np.arange(ORDERS, dtype=np.int64),
            "o_custkey": rng.integers(0, 1500, ORDERS).astype(np.int64),
            "o_orderstatus": [("F", "O", "P")[int(x)] for x in rng.integers(0, 3, ORDERS)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, ORDERS), 2),
            "o_orderdate": _days(base, order_days),
            "o_orderpriority": [PRIORITIES[int(x)] for x in rng.integers(0, 5, ORDERS)],
        },
        "lineitem": {
            "l_orderkey": l_order,
            "l_partkey": basket_parts.astype(np.int64),
            "l_suppkey": rng.integers(0, SUPPLIERS, n_lines).astype(np.int64),
            "l_linenumber": l_number,
            "l_quantity": quantity,
            "l_extendedprice": price,
            "l_discount": rng.integers(0, 11, n_lines) / 100.0,
            "l_tax": rng.integers(0, 9, n_lines) / 100.0,
            "l_returnflag": [("A", "N", "R")[int(x)] for x in rng.integers(0, 3, n_lines)],
            "l_linestatus": [("F", "O")[int(x)] for x in rng.integers(0, 2, n_lines)],
            "l_shipdate": _days(base, ship_days),
        },
        "events": {
            "event_id": np.arange(EVENTS, dtype=np.int64),
            "ts": np.datetime64(datetime(2024, 1, 1), "us")
            + np.cumsum(rng.integers(1_000_000, 300_000_000, EVENTS)).astype("timedelta64[us]"),
            "user_id": rng.integers(0, USERS, EVENTS).astype(np.int64),
            "event_type": [EVENT_TYPES[int(x)] for x in rng.integers(0, len(EVENT_TYPES), EVENTS)],
            "value": np.round(rng.uniform(0.0, 20.0, EVENTS), 2),
            "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, EVENTS)],
        },
    }
    rows = {}
    for name, cols in tables.items():
        table = pa.table(cols)
        pq.write_table(table, out / f"{name}.parquet")
        rows[name] = table.num_rows
    return rows


def expected_rows() -> dict[str, int]:
    """Rows per table, the same for every seed."""
    lines = int((1 + np.arange(ORDERS) % LINES_PER_ORDER).sum())
    return {"supplier": SUPPLIERS, "orders": ORDERS, "lineitem": lines, "events": EVENTS}
