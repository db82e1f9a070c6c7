"""Arithmetic on receipt logs: percentiles, delivered share, backlog."""

from __future__ import annotations

import bisect


def percentile(values: list[float], q: float) -> float:
    """The ``q``-th percentile (0..100) by linear interpolation between
    closest ranks; 0.0 for no values."""
    if not values:
        return 0.0
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50)


def latencies_ms(due: dict[str, float], first: dict[str, float]) -> list[float]:
    """Due time to first 2xx, in ms, for every due key that got one."""
    return [(first[k] - t) * 1000.0 for k, t in due.items() if k in first]


def delivered_frac(due: dict[str, float], first: dict[str, float],
                   deadline: float) -> float:
    """Share of due keys whose first 2xx came by ``deadline``."""
    if not due:
        return 0.0
    ok = sum(1 for k in due if k in first and first[k] <= deadline)
    return ok / len(due)


def backlog_at(t: float, due_sorted: list[float], recv_sorted: list[float]) -> int:
    """Events due by ``t`` minus events delivered by ``t``."""
    return bisect.bisect_right(due_sorted, t) - bisect.bisect_right(recv_sorted, t)


def backlog_growth(due: dict[str, float], first: dict[str, float],
                   t_start: float, t_end: float, samples: int = 200) -> float:
    """Mean backlog over the second half of ``[t_start, t_end]`` minus the
    mean over the first half, in events. Near 0 when delivery keeps up;
    grows with run length when it does not."""
    due_sorted = sorted(due.values())
    recv_sorted = sorted(first[k] for k in due if k in first)
    step = (t_end - t_start) / samples
    levels = [
        backlog_at(t_start + (i + 0.5) * step, due_sorted, recv_sorted)
        for i in range(samples)
    ]
    half = samples // 2
    return sum(levels[half:]) / (samples - half) - sum(levels[:half]) / half
