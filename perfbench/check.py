"""Per-call output checks. Each returns ``None`` when the output is
right, else a one-line reason; a reason counts the call as failed."""

from __future__ import annotations

import csv
import glob
import math
import os
from decimal import Decimal


def read_matrix(out_dir: str) -> list[tuple[int, int, str]]:
    """``(Cluster ID, Size, Template)`` rows of the one
    ``event_matrix_exec*.csv`` in ``out_dir`` (Spark's CSV writer quotes
    with ``"`` and escapes with a backslash)."""
    paths = glob.glob(os.path.join(out_dir, "event_matrix_exec*.csv"))
    if len(paths) != 1:
        raise ValueError(f"expected one event matrix in {out_dir}, found {len(paths)}")
    with open(paths[0], newline="") as f:
        reader = csv.reader(f, escapechar="\\", doublequote=False)
        header = next(reader)
        if header != ["Cluster ID", "Size", "Template"]:
            raise ValueError(f"unexpected matrix header {header}")
        return [(int(r[0]), int(r[1]), r[2]) for r in reader]


def check_matrix(out_dir: str, total: int, absent: str | None = None,
                 present: str | None = None) -> str | None:
    """Σ Size equals ``total``; no template contains ``absent`` (the
    decoy file's marker); ``present`` is one of the templates."""
    try:
        rows = read_matrix(out_dir)
    except (OSError, ValueError) as e:
        return str(e)
    got = sum(r[1] for r in rows)
    if got != total:
        return f"sum of Size is {got}, expected {total}"
    if absent is not None and any(absent in r[2] for r in rows):
        return f"a template contains {absent!r}: an input outside container_*.log was ingested"
    if present is not None and not any(r[2] == present for r in rows):
        return f"template {present!r} is missing"
    return None


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (float, Decimal)):
        v = float(v)
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 6))
    return str(v)


def canon_table(cols: list[str], rows) -> tuple[tuple[str, ...], list[tuple[str, ...]]]:
    """Order-insensitive form of a result: columns sorted by name, values
    stringified (floats to 6 decimals), rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return (tuple(cols[i] for i in order),
            sorted(tuple(_canon(r[i]) for i in order) for r in rows))


def check_table(name: str, expected, got) -> str | None:
    """``got`` equals the oracle's ``expected`` (both ``canon_table``)."""
    if expected[0] != got[0]:
        return f"{name}: columns {got[0]} != {expected[0]}"
    if len(expected[1]) != len(got[1]):
        return f"{name}: {len(got[1])} rows, expected {len(expected[1])}"
    if expected[1] != got[1]:
        return f"{name}: values differ from the oracle"
    return None
