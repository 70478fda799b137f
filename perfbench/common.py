"""Helpers shared by the workloads: statistics, result canonicalisation,
on-disk sizes and peak memory."""

from __future__ import annotations

import datetime
import decimal
import math
import os
import statistics
from collections import Counter

import numpy as np
import pandas as pd

# candidate tail percentiles, highest first
_TAILS = (99.9, 99.0, 95.0, 90.0, 75.0)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")


def tail(values: list[float]) -> tuple[float, float | None]:
    """Highest percentile with at least ten samples beyond it, as
    ``(value, percentile)``; ``(nan, None)`` below 20 samples."""
    n = len(values)
    for p in _TAILS:
        if n * (100.0 - p) / 100.0 >= 10:
            return float(np.percentile(values, p, method="lower")), p
    return float("nan"), None


def gmean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def cell(v):
    """One result cell in a form that compares equal across engines:
    floats to 6 decimals, midnight timestamps as dates, NaN/None as None."""
    if v is None:
        return None
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return None
        return round(f, 6) + 0.0  # folds -0.0 into 0.0
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        ts = pd.Timestamp(v)
        if ts.tzinfo is not None:
            ts = ts.tz_convert(None)
        return ts.date().isoformat() if ts == ts.normalize() else ts.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if v is pd.NaT:
        return None
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


def canon(pdf: pd.DataFrame) -> Counter:
    """Order-insensitive multiset of canonical rows."""
    cols = [pdf[c].tolist() for c in pdf.columns]
    return Counter(tuple(cell(v) for v in row) for row in zip(*cols))


def tree_bytes(path: str) -> tuple[int, int]:
    """(total bytes, file count) of every regular file under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for name in names:
            total += os.path.getsize(os.path.join(root, name))
            files += 1
    return total, files


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
