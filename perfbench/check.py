"""Correctness checks, run outside every timed region.

Each check returns a list of mismatch descriptions; empty means correct.
Values are compared as canonical row multisets: column names must match
exactly, row counts must match, and the order-insensitive hash of the
normalized rows must match (floats to 9 significant digits, so the last
bits of an aggregation order cannot flip a verdict).
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
from typing import Any, Iterable, Sequence


def _norm(v: Any) -> Any:
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f) or math.isinf(f):
            return str(f)
        if f == int(f) and abs(f) < 2**53:
            return int(f)
        return float(f"{f:.9g}")
    if isinstance(v, int):
        return v
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, dict):
        return tuple(sorted((str(k), _norm(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):  # pyspark Row nested in a struct column
        return _norm(v.asDict())
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return str(v)


def row_digest(rows: Iterable[Sequence[Any]]) -> tuple[int, str]:
    """(row count, order-insensitive sha256 of the normalized rows)."""
    keys = sorted(repr(tuple(_norm(v) for v in r)) for r in rows)
    h = hashlib.sha256()
    for k in keys:
        h.update(k.encode())
        h.update(b"\n")
    return len(keys), h.hexdigest()


def compare_rows(
    name: str,
    got_cols: Sequence[str],
    got_rows: Iterable[Sequence[Any]],
    want_cols: Sequence[str],
    want_rows: Iterable[Sequence[Any]],
) -> list[str]:
    """Column names (order-insensitive), row count and row-multiset hash."""
    if sorted(got_cols) != sorted(want_cols):
        return [f"{name}: columns {list(got_cols)} != {list(want_cols)}"]
    if list(got_cols) != list(want_cols):
        idx = [list(want_cols).index(c) for c in got_cols]
        want_rows = [tuple(r[i] for i in idx) for r in want_rows]
    gn, gh = row_digest(got_rows)
    wn, wh = row_digest(want_rows)
    if gn != wn:
        return [f"{name}: {gn} rows != {wn} expected"]
    if gh != wh:
        return [f"{name}: row hash mismatch over {gn} rows"]
    return []

