"""Order-insensitive canonical form of a result frame, following the
engine's oracle comparison (``tests/oracle_harness.py``): columns sorted by
name, cells rendered exactly (floats by ``repr``), rows sorted."""

from __future__ import annotations

import datetime as _dt
import decimal as _dec
import hashlib
import math

import numpy as np
import pandas as pd


def canon_cell(v):
    if v is None:
        return None
    if isinstance(v, (np.floating, float)):
        f = float(v)
        return "NaN" if math.isnan(f) else repr(f)
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return int(v)
    if isinstance(v, _dec.Decimal):
        return f"dec:{v.normalize()}"
    if isinstance(v, (pd.Timestamp, _dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return "0x" + bytes(v).hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(canon_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon_cell(x)) for k, x in v.items()))
    return v


def canon_frame(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [tuple(canon_cell(v) for v in row)
            for row in df[cols].itertuples(index=False, name=None)]
    rows.sort(key=lambda r: tuple(str(x) for x in r))
    return rows


def value_hash(df: pd.DataFrame) -> str:
    """Digest of the column names and the canonical rows."""
    h = hashlib.sha256(repr(sorted(df.columns)).encode())
    for row in canon_frame(df):
        h.update(repr(row).encode())
    return h.hexdigest()


def compare(actual: pd.DataFrame, expected: pd.DataFrame) -> str | None:
    """None when equal, else a one-line reason."""
    if sorted(actual.columns) != sorted(expected.columns):
        return (f"columns {sorted(actual.columns)} != "
                f"{sorted(expected.columns)}")
    if len(actual) != len(expected):
        return f"rows {len(actual)} != {len(expected)}"
    a, b = canon_frame(actual), canon_frame(expected)
    if a != b:
        diff = next((x, y) for x, y in zip(a, b) if x != y)
        return f"values differ, first: {diff[0]!r} vs {diff[1]!r}"[:300]
    return None
