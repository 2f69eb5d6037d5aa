"""Order-insensitive result hashes, comparable across Spark and DuckDB.

A result is hashed as a multiset of rows over its columns in name order,
so row order never matters. Values are canonicalised first, so that a
Spark ``collect()`` row and a DuckDB ``.df()`` row of the same result hash
alike:

- NULL, NaN, ``pd.NA`` and ``NaT`` are one NULL token (pandas cannot tell
  them apart either);
- numbers: an integral float within 2**53 equals the int of the same
  value (a nullable int column arrives as float64 from pandas); any other
  float is compared by its float64 bytes, so ``-0.0 != 0.0``; decimals
  compare as their float64 value, as DuckDB hands them to pandas;
- dates and timestamps compare as naive ISO strings;
- arrays, structs and maps recurse.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import struct

import numpy as np
import pandas as pd

_NULL = ("null",)
_EXACT = 2.0**53


def canon(v):
    if v is None or v is pd.NA or v is pd.NaT:
        return _NULL
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, (int, np.integer)):
        return ("n", int(v))
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return _NULL
        if f.is_integer() and abs(f) < _EXACT and not (f == 0 and math.copysign(1, f) < 0):
            return ("n", int(f))
        return ("f", struct.pack("<d", f).hex())
    if isinstance(v, str):
        return ("s", v)
    if isinstance(v, (pd.Timestamp, dt.datetime, dt.date, np.datetime64)):
        ts = pd.Timestamp(v)
        return _NULL if ts is pd.NaT else ("t", ts.tz_localize(None).isoformat() if ts.tzinfo else ts.isoformat())
    if isinstance(v, (bytes, bytearray, memoryview)):
        return ("x", bytes(v).hex())
    if isinstance(v, dict):
        return ("m", tuple(sorted((repr(canon(k)), canon(x)) for k, x in v.items())))
    if hasattr(v, "asDict"):  # pyspark Row (struct)
        return ("r", tuple(canon(x) for x in v))
    if isinstance(v, (list, tuple, np.ndarray)):
        return ("a", tuple(canon(x) for x in v))
    return ("?", repr(v))


def hash_rows(columns: list[str], rows) -> str:
    """sha256 of the canonical multiset of ``rows`` (sequences aligned with
    ``columns``), columns taken in sorted-name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    keys = sorted(repr(tuple(canon(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr([columns[i] for i in order]).encode())
    for k in keys:
        h.update(k.encode())
        h.update(b"\n")
    return h.hexdigest()


def hash_pandas(df: pd.DataFrame) -> str:
    return hash_rows(list(df.columns), df.itertuples(index=False, name=None))
