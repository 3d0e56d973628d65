"""Order-insensitive result comparison for the benchmark's output checks.

A result is reduced to its sorted rows, every column in name order,
every float rounded to 6 decimals and nested values (arrays, structs,
maps) canonicalised recursively. The same function canonicalises a Spark
result (``toPandas``), a DuckDB oracle result (``fetchdf``) and a step's
parquet output read back through DuckDB. Two results match when their
hashes agree, or else row by row with floats allowed to differ by one
unit in the 6th decimal: two engines summing in different orders can
land an exact half (0.0208125 vs 0.020812499999999998) on either side
of the rounding.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math

import numpy as np
import pandas as pd


def _canon(v):
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return None
        if math.isinf(f):
            return f
        r = round(f, 6) + 0.0
        return int(r) if r.is_integer() else r
    if isinstance(v, (pd.Timestamp, dt.datetime, np.datetime64)):
        t = pd.Timestamp(v)
        return (t.tz_convert("UTC").tz_localize(None) if t.tzinfo else t).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, dict):
        return tuple(sorted((str(k), _canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple, np.ndarray)):
        items = list(v)
        # Spark maps arrive as lists of (key, value) pairs
        if items and all(isinstance(x, tuple) and len(x) == 2 for x in items):
            return tuple(sorted((str(k), _canon(x)) for k, x in items))
        return tuple(_canon(x) for x in items)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


TOLERANCE = 1e-6 + 1e-12


def _has_float(v) -> bool:
    if isinstance(v, float):
        return True
    return isinstance(v, tuple) and any(_has_float(x) for x in v)


def digest(df: pd.DataFrame) -> dict:
    """``{"cols", "rows", "sha1"}`` of a result frame. Rows sort on their
    float-free cells first, so a last-digit float difference cannot
    reorder rows that differ elsewhere."""
    cols = sorted(df.columns)
    rows = [tuple(_canon(v) for v in row) for row in df[cols].itertuples(index=False, name=None)]
    rows.sort(key=lambda r: (repr([v for v in r if not _has_float(v)]),
                             repr([v for v in r if _has_float(v)])))
    h = hashlib.sha1()
    for r in rows:
        h.update(repr(r).encode())
        h.update(b"\n")
    # JSON form (tuples become lists), so expected results can be stored
    return {"cols": cols, "rows": json.loads(json.dumps(rows)), "sha1": h.hexdigest()}


def _close(a, b) -> bool:
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    numbers = (int, float)
    if (isinstance(a, numbers) and isinstance(b, numbers) and not isinstance(a, bool)
            and not isinstance(b, bool) and (isinstance(a, float) or isinstance(b, float))):
        return abs(a - b) <= TOLERANCE
    return a == b


def same_result(got: dict, want: dict) -> bool:
    return got["sha1"] == want["sha1"] or (
        got["cols"] == want["cols"] and len(got["rows"]) == len(want["rows"])
        and all(_close(r, s) for r, s in zip(got["rows"], want["rows"])))
