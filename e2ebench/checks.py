"""Output checks. Each returns a list of error strings; empty means the
output is correct.

Published tables are read back with pyarrow, not Spark, so the checks
share no code path with the program they check and submit no Spark jobs.
"""

from __future__ import annotations

from pathlib import Path

# Rows per published table at the fixture generator's default size. The
# generator's row structure does not depend on the seed, only its values,
# so these hold for every seed.
EXPECTED_ROWS = {
    "table_CPI": 53,
    "table_HouseholdIncome2021": 21,
    "table_Unemployment": 189,
    "table_fed_min_wage": 53,
    "table_gdp": 6240,
    "table_industry": 10,
    "table_inflation": 53,
    "table_location": 26,
    "table_school_expense_type": 8,
    "table_school_expenses": 1512,
    "table_state_min_wage": 1113,
}


def read_published(root: str | Path) -> dict:
    import pyarrow.parquet as pq

    return {p.name: pq.read_table(p) for p in sorted(Path(root).iterdir()) if p.is_dir()}


def check_published(
    tables: dict,
    expected_rows: dict[str, int],
    primary_keys: dict[str, list[str]],
    foreign_keys: list[tuple[str, str, str, str]],
) -> list[str]:
    """Table set, row counts, and the PK/FK contract of the published
    layout, recomputed from the files."""
    errors = []
    if set(tables) != set(expected_rows):
        return [f"published tables {sorted(tables)} != {sorted(expected_rows)}"]
    for name, n in expected_rows.items():
        if tables[name].num_rows != n:
            errors.append(f"{name}: {tables[name].num_rows} rows, expected {n}")
    for name, keys in primary_keys.items():
        rows = list(zip(*(tables[name].column(k).to_pylist() for k in keys)))
        if any(v is None for row in rows for v in row):
            errors.append(f"{name}: null in primary key {keys}")
        if len(set(rows)) != len(rows):
            errors.append(f"{name}: duplicate primary key {keys}")
    for child, fk, parent, pk in foreign_keys:
        parents = set(tables[parent].column(pk).to_pylist())
        orphans = {v for v in tables[child].column(fk).to_pylist() if v is not None} - parents
        if orphans:
            errors.append(f"{child}.{fk}: {len(orphans)} values with no parent in {parent}.{pk}")
    return errors


def check_catalog(
    tables_reply: dict, columns_replies: dict[str, dict], expected_columns: dict[str, list[str]]
) -> list[str]:
    """GET /tables and GET /columns/<t> against the published files."""
    errors = []
    if tables_reply.get("tables") != sorted(expected_columns):
        errors.append(f"/tables returned {tables_reply.get('tables')}")
    for name, cols in expected_columns.items():
        got = columns_replies.get(name, {}).get("columns")
        if got is None or sorted(got) != sorted(cols):
            errors.append(f"/columns/{name} returned {got}, expected {sorted(cols)}")
    return errors


def check_reply(
    status: int, payload, table: str, limit: int, rows: int, columns: list[str]
) -> str | None:
    """One POST /get_data reply: HTTP 200, min(limit, table rows) rows,
    and exactly the table's columns on the reply and on every row."""
    if status != 200:
        return f"{table}/{limit}: HTTP {status}"
    if not isinstance(payload, dict) or payload.get("table") != table:
        return f"{table}/{limit}: reply names table {payload.get('table') if isinstance(payload, dict) else None}"
    if payload.get("columns") != columns:
        return f"{table}/{limit}: columns {payload.get('columns')} != {columns}"
    got = payload.get("rows")
    if not isinstance(got, list) or len(got) != min(limit, rows):
        return f"{table}/{limit}: {len(got) if isinstance(got, list) else got} rows, expected {min(limit, rows)}"
    want = set(columns)
    if any(set(r) != want for r in got):
        return f"{table}/{limit}: a row's keys differ from the columns"
    return None


def check_entry(name: str, got: list[tuple], first: list[tuple] | None, oracle: list[tuple] | None) -> str | None:
    """A catalog entry's fingerprint: equal to the first block's, and to
    its DuckDB oracle's when it has one (checked on the first block)."""
    if not got:
        return f"{name}: no rows"
    if first is not None and got != first:
        return f"{name}: {len(got)} rows differ from the first block's {len(first)}"
    if oracle is not None and got != oracle:
        return f"{name}: {len(got)} rows differ from the oracle's {len(oracle)}"
    return None
