"""Output checks: canonical, order-insensitive result sets.

Both sides are reduced to plain Python values — DuckDB through
``fetchall()``, Spark through ``collect()`` — then to a canonical form:
columns sorted by name, rows sorted, decimals as floats, dates and
timestamps as ISO strings, NaN as a marker. Two results match when the
column names, the row count and every value are equal (``3 == 3.0``
counts as equal, as it does for the repository's oracle gate).
"""

from __future__ import annotations

import datetime as dt
import decimal
import math


def _value(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, int):
        return v
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat(sep=" ") if isinstance(v, dt.datetime) else v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return [[_value(k), _value(x)] for k, x in sorted(v.items(), key=lambda kv: repr(kv[0]))]
    if isinstance(v, (list, tuple)):  # arrays and structs (Row is a tuple)
        return [_value(x) for x in v]
    return str(v)


def _sort_key(v):
    if v is None:
        return (0, 0.0, "")
    if isinstance(v, (int, float)):
        return (1, float(v), "")
    return (2, 0.0, repr(v))


def canonical(columns: list[str], rows) -> dict:
    """JSON-ready canonical form of a result set."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    body = [[_value(r[i]) for i in order] for r in rows]
    body.sort(key=lambda row: [_sort_key(v) for v in row])
    return {"columns": [columns[i] for i in order], "rows": body}


def mismatch(got: dict, want: dict) -> str | None:
    """None when the two canonical results agree, else a short reason."""
    if got["columns"] != want["columns"]:
        return f"columns {got['columns']} != {want['columns']}"
    if len(got["rows"]) != len(want["rows"]):
        return f"{len(got['rows'])} rows != {len(want['rows'])}"
    for i, (a, b) in enumerate(zip(got["rows"], want["rows"])):
        if a != b:
            return f"row {i}: {a!r} != {b!r}"
    return None
