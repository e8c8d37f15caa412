"""Order-insensitive result digests.

The normalization is the one tools/check_correctness.py applies before
comparing Spark with DuckDB: columns sorted by name, floats rounded to
9 significant digits, NaN and NULL given stable forms, every other value
compared as its string, rows sorted. It is repeated here rather than
imported so that the stored digests keep their meaning when the tools
change.
"""

from __future__ import annotations

import hashlib
import math


def _norm_val(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else float(f"{v:.9g}")
    return str(v)


def normalize(rows, cols: list[str]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_val(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return out


def digest(rows, cols: list[str]) -> dict:
    """{"rows": row count, "hash": sha256 of the normalized rows}."""
    h = hashlib.sha256(repr(sorted(cols)).encode())
    for r in normalize(rows, cols):
        h.update(repr(r).encode())
        h.update(b"\n")
    return {"rows": len(rows), "hash": h.hexdigest()}
