"""Arithmetic shared by the benchmark: percentiles, interval unions, the
verdict comparer and Spark SQL metric parsing.

Nothing here imports Spark, so the self-tests (``test_harness.py``) run in
well under a second.
"""

from __future__ import annotations

import math
import re
from typing import Any, Dict, Iterable, List, Optional, Sequence, Tuple


def median(values: Sequence[float]) -> float:
    xs = sorted(values)
    if not xs:
        raise ValueError("median of no values")
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def tail_percentile(values: Sequence[float], beyond: int = 10) -> Tuple[float, float, int]:
    """The highest nearest-rank percentile that has at least ``beyond``
    values above its rank: ``(percentile, value, n)``.

    With n values, rank k (1-based) leaves n - k values beyond it, so the
    highest qualifying rank is n - beyond and its percentile is
    100 * (n - beyond) / n. With n <= beyond no rank qualifies; the lowest
    rank is the one with the most values beyond it, so the minimum is
    reported with percentile 0 (this keeps the value continuous in n)."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("tail percentile of no values")
    k = n - beyond
    if k < 1:
        return 0.0, xs[0], n
    return 100.0 * k / n, xs[k - 1], n


def neighbour_ratios(blocks: Sequence[float]) -> List[float]:
    """For blocks that alternate untraced (even index) and traced (odd
    index), each traced block's time over the mean of the untraced blocks
    on either side. Comparing with both neighbours cancels a warm-up trend
    that a plain traced-over-untraced ratio would count as tracing cost."""
    return [blocks[k] / ((blocks[k - 1] + blocks[k + 1]) / 2.0)
            for k in range(1, len(blocks) - 1, 2)]


def interval_union(intervals: Iterable[Tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals; overlaps
    count once and intervals with end < start are ignored."""
    spans = sorted((s, e) for s, e in intervals if e >= s)
    total = 0.0
    cur_s: Optional[float] = None
    cur_e = 0.0
    for s, e in spans:
        if cur_s is None or s > cur_e:
            if cur_s is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_s is not None:
        total += cur_e - cur_s
    return total


def clipped(intervals: Iterable[Tuple[float, float]], lo: float, hi: float
            ) -> List[Tuple[float, float]]:
    """Intervals cut to the window [lo, hi]; those outside it are dropped."""
    out = []
    for s, e in intervals:
        s, e = max(s, lo), min(e, hi)
        if e >= s:
            out.append((s, e))
    return out


# ---------------------------------------------------------------------------
# verdicts
# ---------------------------------------------------------------------------

def _same_value(actual: Any, expected: Any) -> bool:
    if isinstance(expected, float) or isinstance(actual, float):
        try:
            return math.isclose(float(actual), float(expected), rel_tol=1e-9, abs_tol=1e-9)
        except (TypeError, ValueError):
            return False
    if isinstance(expected, int) and not isinstance(expected, bool):
        try:
            return int(actual) == expected and float(actual) == float(expected)
        except (TypeError, ValueError):
            return False
    return actual == expected


def compare_verdicts(actual: Dict[str, Tuple[str, Any, Optional[str]]],
                     expected: Dict[str, Dict[str, Any]]) -> List[str]:
    """Mismatches between a run's checks and the oracle, one line each.

    ``actual``: check key -> (result, value, reason).
    ``expected``: check key -> {"result": str, "value": number or None};
    a None value means only the verdict is compared (schema and drift
    checks). Every check on either side must appear on the other; an
    ``error`` result is always a mismatch, even if the oracle expected it."""
    problems = []
    for key in sorted(set(expected) - set(actual)):
        problems.append(f"{key}: missing from the run")
    for key in sorted(set(actual) - set(expected)):
        problems.append(f"{key}: not expected by the oracle "
                        f"(result {actual[key][0]})")
    for key in sorted(set(actual) & set(expected)):
        result, value, reason = actual[key]
        want = expected[key]
        if result == "error":
            problems.append(f"{key}: error ({reason})")
        elif result != want["result"]:
            problems.append(f"{key}: result {result}, oracle {want['result']}")
        elif want.get("value") is not None and not _same_value(value, want["value"]):
            problems.append(f"{key}: value {value!r}, oracle {want['value']!r}")
    return problems


# ---------------------------------------------------------------------------
# Spark SQL metric strings
# ---------------------------------------------------------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
         "PiB": 1 << 50}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM = re.compile(r"^\s*(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> Optional[float]:
    """Value of one formatted SQL metric, in bytes, seconds or a count.

    The status store formats metrics as ``"51.1 MiB"``, ``"2,000,000"``,
    ``"1.2 s"`` or, for per-task metrics, ``"total (min, med, max ...)\\n
    22.4 MiB (5.6 MiB, ...)"``; the total is the first figure of the
    last line."""
    if text is None:
        return None
    line = text.strip().splitlines()[-1] if text.strip() else ""
    m = _NUM.match(line)
    if not m:
        return None
    number = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if not unit:
        return number
    if unit in _SIZE:
        return number * _SIZE[unit]
    if unit in _TIME:
        return number * _TIME[unit]
    return None

