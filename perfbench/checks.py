"""Order-insensitive result fingerprints and the expected values they
are checked against.

A query's fingerprint is its row count plus a SHA-256 over its rows,
each value normalised the way the DuckDB oracle comparison does it
(full-precision floats, sign of zero kept, timestamps as naive ISO
strings), columns taken in name order and rows sorted. Spark rows and
DuckDB rows of the same result hash alike, so ``expected.json`` can be
cross-checked against ``oracle_sql()`` (see ``make_expected.py``).
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from datetime import date, datetime
from decimal import Decimal

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def _norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0 and math.copysign(1.0, v) < 0:
            return "-0.0"
        return repr(v)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def fingerprint(rows, columns: list[str]) -> dict:
    """``{"rows": n, "hash": hex}`` of a result, independent of row and
    column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    normed = [tuple(_norm(r[i]) for i in order) for r in rows]
    normed.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    h = hashlib.sha256(repr(([columns[i] for i in order], normed)).encode())
    return {"rows": len(normed), "hash": h.hexdigest()}


def load_expected(path: str | None = None) -> dict:
    """``{"sf<scale>": {query: fingerprint}}``."""
    with open(path or EXPECTED_PATH) as f:
        return json.load(f)
