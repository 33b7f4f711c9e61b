"""The ``catalog`` workload's mix: query-catalog entries run in blocks.

A block runs every entry of ``MIX`` once, in an order shuffled by the
seed (block 0 in the listed order); each entry is built (``Query.fn``) then ``collect()``ed, with
``clearCache()`` before it as ``bench.py`` does. Results are compared
as fingerprints: the rows with their columns sorted by name, the rows
sorted.
"""

from __future__ import annotations

import random
from pathlib import Path

# Iterative entries (the build runs a fixpoint loop of Spark jobs) and
# single-shot ones (scans, joins, shuffles, the Python/Arrow boundary).
MIX = (
    "graph_connected_components",
    "coreness_hindex",
    "q1_pricing_summary",
    "tpch_q21_waiting_suppliers",
    "stream_stateful_user_totals",
)
# entries that record their rounds to fixpoint in graph_analytics.LAST_ROUNDS
LOOPED = ("graph_connected_components", "coreness_hindex")
# the entry whose jobs run on the streaming query's own thread
STREAMING = "stream_stateful_user_totals"


def block_orders(seed: int):
    """The entry order of block 0, 1, 2, ...: block 0, the cold one, runs
    MIX as listed, so a fresh process's first-run costs land on the same
    entries for every seed; every later block is a fresh shuffle of MIX
    drawn from one seeded generator."""
    yield list(MIX)
    rng = random.Random(seed)
    while True:
        order = list(MIX)
        rng.shuffle(order)
        yield order


def fingerprint(columns: list[str], rows) -> list[tuple]:
    """Rows as tuples with the columns in name order, sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted((tuple(r[i] for i in order) for r in rows), key=repr)


def oracle_fingerprints(tables_dir: str | Path, oracles: dict[str, str]) -> dict[str, list[tuple]]:
    """Each oracle SQL run by DuckDB over views of the parquet tables."""
    import duckdb

    con = duckdb.connect()
    try:
        for path in sorted(Path(tables_dir).glob("*.parquet")):
            con.sql(f"CREATE VIEW {path.stem} AS SELECT * FROM '{path}'")
        out = {}
        for name, sql in oracles.items():
            rel = con.sql(sql)
            out[name] = fingerprint(rel.columns, rel.fetchall())
        return out
    finally:
        con.close()
