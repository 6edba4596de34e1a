"""Order-insensitive result fingerprints, for comparing the engine's
output with a DuckDB twin and with its own earlier passes."""

from __future__ import annotations

import datetime as dt
import hashlib
import math

import pyarrow as pa


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (dt.date, dt.time)):
        return v.isoformat()
    return str(v)


def fingerprint(tbl: pa.Table) -> tuple[int, str]:
    """(row count, hash of the sorted canonical rows). Columns are taken
    in name order, so a twin that orders its columns differently still
    matches."""
    names = sorted(tbl.column_names)
    cols = [tbl.column(n).to_pylist() for n in names]
    rows = sorted("\x1f".join(_canon(v) for v in r) for r in zip(*cols))
    h = hashlib.sha1("\n".join(names + rows).encode()).hexdigest()[:16]
    return tbl.num_rows, h
