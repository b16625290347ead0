"""The benchmark's arithmetic: latency percentiles, span self time, failure
share and write amplification. Pure functions, tested in test_stats.py."""

from __future__ import annotations

import statistics
from typing import Iterable, NamedTuple


def median(values: Iterable[float]) -> float:
    vals = list(values)
    return statistics.median(vals) if vals else 0.0


def tail(latencies: Iterable[float], beyond: int = 10) -> dict:
    """The highest percentile that still has at least ``beyond`` samples
    above it, as the k-th smallest sample with k = n - beyond.

    Returns ``{"value", "percentile", "n", "rule_met"}``. With n <= beyond
    no percentile qualifies; the maximum is reported instead, as percentile
    100, with ``rule_met`` false so a reader sees the sample was too small.
    """
    vals = sorted(latencies)
    n = len(vals)
    if n == 0:
        return {"value": 0.0, "percentile": 0.0, "n": 0, "rule_met": False}
    if n <= beyond:
        return {"value": vals[-1], "percentile": 100.0, "n": n, "rule_met": False}
    k = n - beyond
    return {
        "value": vals[k - 1],
        "percentile": round(100.0 * k / n, 2),
        "n": n,
        "rule_met": True,
    }


def failed_frac(attempted: int, failed: int) -> float:
    """Failed or wrong-output operations over operations attempted."""
    if attempted <= 0:
        raise ValueError("no operation was attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


def write_amp(bytes_written: int, input_bytes: int) -> float:
    """Bytes written (state, outputs and published versions) per input byte."""
    if input_bytes <= 0:
        raise ValueError("input_bytes must be positive")
    return bytes_written / input_bytes


class Span(NamedTuple):
    sid: int
    name: str
    start: float
    end: float
    parent: "int | None"


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: Iterable[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval that its direct
    child spans cover (overlapping children are counted once)."""
    spans = list(spans)
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: (s.end - s.start) - _covered(children.get(s.sid, []), s.start, s.end)
        for s in spans
    }


def self_time_by_name(spans: Iterable[Span]) -> dict[str, float]:
    spans = list(spans)
    own = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + own[s.sid]
    return out
