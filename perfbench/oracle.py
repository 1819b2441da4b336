"""Order-insensitive comparison of Spark rows with DuckDB oracle rows."""

from __future__ import annotations

import math
from datetime import date, datetime
from decimal import Decimal


def _norm(v):
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        # -0.0 folds into 0.0; noise below 1e-9 is not a difference
        return "NaN" if math.isnan(v) else round(v, 9) + 0.0
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, int):
        return v
    if hasattr(v, "item"):  # numpy scalars
        return _norm(v.item())
    return v


def _rows(cols: list[str], rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda r: tuple((v is None, type(v).__name__, str(v)) for v in r))


def duck_rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    rel = con.sql(sql)
    return list(rel.columns), rel.fetchall()


def compare_rows(label: str, cols, rows, want_cols, want_rows) -> list[str]:
    if sorted(cols) != sorted(want_cols):
        return [f"{label}: columns {sorted(cols)} != oracle {sorted(want_cols)}"]
    if len(rows) != len(want_rows):
        return [f"{label}: {len(rows)} rows != oracle {len(want_rows)}"]
    got, want = _rows(list(cols), rows), _rows(list(want_cols), want_rows)
    diff = [(a, b) for a, b in zip(got, want) if a != b]
    if diff:
        return [f"{label}: {len(diff)}/{len(got)} rows differ, first {diff[0][0]} "
                f"!= oracle {diff[0][1]}"]
    return []
