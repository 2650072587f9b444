"""Arithmetic the benchmark reports with: percentiles and the sample
counts behind them, quartile spread, span self time, and the canonical
cell text used to compare answers across wire protocols."""

from __future__ import annotations

import hashlib
import math
import statistics


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile ``q`` (0-100) of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def beyond(n: int, q: float) -> int:
    """Samples strictly above the ``q`` percentile of ``n`` samples."""
    return int(math.floor(n * (100.0 - q) / 100.0 + 1e-9))


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def self_times(spans: list[tuple]) -> list[float]:
    """Self time of each span: its duration minus the part of it that
    its direct children cover. ``spans`` holds ``(start, end, parent)``
    tuples, ``parent`` being an index into the list or None. Overlapping
    children (several threads under one parent) are merged, not summed."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for start, end, parent in spans:
        if parent is not None:
            kids.setdefault(parent, []).append((start, end))
    out = []
    for i, (start, end, _parent) in enumerate(spans):
        covered = 0.0
        cur_s = cur_e = None
        for cs, ce in sorted(kids.get(i, [])):
            cs, ce = max(cs, start), min(ce, end)
            if ce <= cs:
                continue
            if cur_e is None or cs > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = cs, ce
            else:
                cur_e = max(cur_e, ce)
        if cur_e is not None:
            covered += cur_e - cur_s
        out.append(max(0.0, (end - start) - covered))
    return out


def canon(v) -> str:
    """A cell as the text every protocol carries: pgwire and native send
    ``str(v)``, HTTP sends JSON numbers (whose ``str`` is the same) and
    ``str(v)`` for everything else. Native sends NULL as the empty
    string, so NULL and '' compare equal."""
    if v is None:
        return ""
    if isinstance(v, float):
        return repr(v)
    return str(v)


def canon_rows(rows) -> list[tuple[str, ...]]:
    """Rows as sorted tuples of canonical cells (order-insensitive)."""
    return sorted(tuple(canon(v) for v in r) for r in rows)


def frame_hash(pdf) -> tuple[int, str]:
    """(row count, value hash) of a pandas frame, columns taken in name
    order, floats at full precision and timestamps in ISO form — the
    registry oracle gate's comparison."""
    import pandas as pd

    cols = sorted(pdf.columns)
    out = []
    for c in cols:
        s = pdf[c]
        if pd.api.types.is_float_dtype(s):
            out.append(
                [repr(float(v)) if pd.notna(v) else "NULL" for v in s]
            )
        elif pd.api.types.is_datetime64_any_dtype(s):
            out.append([v.isoformat() if pd.notna(v) else "NULL" for v in s])
        else:
            out.append(
                ["NULL" if v is None or v is pd.NA else str(v) for v in s]
            )
    rows = sorted("\x01".join(r) for r in zip(*out)) if out else []
    digest = hashlib.sha256("\x02".join(rows).encode()).hexdigest()[:16]
    return len(pdf), digest
