"""Order-insensitive result hash shared by the correctness gates.

Both engines' results are reduced to one digest: columns sorted by name,
every number rounded to 6 decimal places (the catalog's own rounding),
nulls and NaNs made one token, rows sorted. Two results with the same
digest hold the same multiset of rows.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math

import numpy as np
import pandas as pd


def _cell(x) -> str:
    if x is None:
        return "null"
    if isinstance(x, (bool, np.bool_)):
        return str(int(x))
    if isinstance(x, (int, float, decimal.Decimal, np.integer, np.floating)):
        f = float(x)
        if math.isnan(f):
            return "null"
        return repr(round(f, 6) + 0.0)  # + 0.0 folds -0.0 into 0.0
    if isinstance(x, (pd.Timestamp, dt.datetime, dt.date, np.datetime64)):
        return str(pd.Timestamp(x))
    if isinstance(x, dict):
        return "{" + ",".join(f"{k}:{_cell(v)}" for k, v in sorted(x.items())) + "}"
    if isinstance(x, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(v) for v in x) + "]"
    if x is pd.NaT or x is pd.NA:
        return "null"
    return str(x)


def result_hash(pdf: pd.DataFrame) -> str:
    cols = sorted(pdf.columns)
    rows = sorted("\x1f".join(_cell(v) for v in row)
                  for row in pdf[cols].itertuples(index=False, name=None))
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rows:
        h.update(b"\x1e" + r.encode())
    return h.hexdigest()[:16]
