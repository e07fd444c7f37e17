"""Correctness checks against DuckDB, run outside the timed window.

- ``store_check``: the sync store's current generation must equal a
  last-writer-wins over every landed row (latest ``updated_ms`` per
  ``event_id``), compared by row count and an order-insensitive hash
  of every column.
- ``result_check``: a query's rows must equal its registered DuckDB
  oracle's rows: same column names, same multiset of rows after the
  catalog's normalization (floats round-trip exact, NULL unified,
  booleans as 0/1).
"""

from __future__ import annotations

import hashlib
import math

import duckdb

_ROW_HASH = (
    "hash(event_id, epoch_us(ts), user_id, event_type, value, props, updated_ms)"
)


def _summary(con, relation: str) -> tuple[int, int]:
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum({_ROW_HASH}::HUGEINT), 0) FROM {relation}"
    ).fetchone()
    return int(n), int(h)


def store_check(landing_glob: str, store_glob: str) -> dict:
    """Compare the store to the last-writer-wins of the landed rows.
    Returns ``{"ok", "rows", "expected_rows"}``."""
    con = duckdb.connect()
    try:
        expected = _summary(
            con,
            f"""(SELECT * FROM read_parquet('{landing_glob}')
                 QUALIFY row_number() OVER (
                     PARTITION BY event_id ORDER BY updated_ms DESC) = 1)""",
        )
        actual = _summary(con, f"read_parquet('{store_glob}')")
    finally:
        con.close()
    return {"ok": actual == expected, "rows": actual[0], "expected_rows": expected[0]}


def _norm(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return "0" if v == 0 else f"{v:.17g}"
    return str(v)


def _canonical(cols: list[str], rows) -> list[str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_norm(r[i]) for i in order) for r in rows)


def result_hash(cols: list[str], rows) -> str:
    return hashlib.sha256("\n".join(_canonical(cols, rows)).encode()).hexdigest()


def result_check(df, oracle_sql: str, views: dict[str, str]) -> dict:
    """Collect ``df`` and compare it to ``oracle_sql`` run over
    ``views`` (view name -> parquet glob). Returns ``{"ok", "rows",
    "expected_rows"}``."""
    cols = list(df.columns)
    rows = [tuple(r) for r in df.collect()]
    con = duckdb.connect()
    try:
        for name, glob in views.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{glob}')")
        res = con.execute(oracle_sql)
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
    finally:
        con.close()
    ok = sorted(cols) == sorted(ocols) and result_hash(cols, rows) == result_hash(
        ocols, orows
    )
    return {"ok": ok, "rows": len(rows), "expected_rows": len(orows)}
