"""Order-insensitive answer hashing, the normalisation the engine's local
correctness gate applies: columns sorted by name, rows sorted, floats
rounded to 9 places, timestamps and nested lists rendered canonically."""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def _norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, decimal.Decimal):
        return repr(round(float(v), 9))
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def answer_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def load_expected() -> dict:
    """{"data_fingerprint": ..., "answers": {query_key: {"hash", "rows"}}}"""
    with open(EXPECTED_PATH) as fh:
        return json.load(fh)
