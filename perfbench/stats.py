"""Pure helpers for the benchmark: percentiles with sample counts,
span self time, and order-sensitive output fingerprints.

No Spark here, so the unit tests under ``perfbench/tests`` run in
milliseconds.
"""

from __future__ import annotations

import hashlib
import math
import statistics
from typing import Iterable, Sequence

#: percentiles a timing may be reported at, highest last
_TAIL_QS = (50.0, 90.0, 99.0, 99.9)


def percentile(xs: Sequence[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100) of a non-empty sample."""
    if not xs:
        raise ValueError("percentile of an empty sample")
    s = sorted(xs)
    rank = max(1, math.ceil(q / 100.0 * len(s)))
    return s[rank - 1]


def tail_q(n: int) -> float | None:
    """Highest reportable percentile above the median for ``n`` samples:
    the largest q with at least ten samples beyond it, else None."""
    best = None
    for q in _TAIL_QS[1:]:
        if n * round((100 - q) * 10) >= 10 * 1000:  # n·(1−q) ≥ 10, exact
            best = q
    return best


def summarize(xs: Sequence[float]) -> dict:
    """Median, the highest percentile with ten samples beyond it (if
    any), and the sample count."""
    out = {"p50": statistics.median(xs), "n": len(xs)}
    q = tail_q(len(xs))
    if q is not None:
        out[f"p{q:g}"] = percentile(xs, q)
    return out


def self_times(spans: Iterable[dict]) -> dict[int, float]:
    """Self time per span id: the span's duration minus the part of its
    interval that its direct children cover (overlapping children are
    merged, so parallel children are not subtracted twice).

    Each span is ``{"id", "parent", "start", "end"}``; ``parent`` is
    None for a root."""
    spans = list(spans)
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, lo), min(b, hi)
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def fingerprint(rows: Iterable[Sequence]) -> str:
    """Order-sensitive digest of a row sequence: swapping two rows, or
    changing any value, changes the result."""
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(tuple(r)).encode())
        h.update(b"\n")
    return h.hexdigest()[:16]
