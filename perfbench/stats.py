"""Spark-free arithmetic shared by the benchmark and its unit tests:
the tail-percentile rule, span self time, and Spark's REST metric
strings."""

from __future__ import annotations

import math
import re

import numpy as np

#: Tail percentiles considered, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 90.0)
#: Samples a reported tail percentile must have strictly beyond it.
MIN_BEYOND = 10


def samples_beyond(n: int, p: float) -> int:
    """Samples ranked strictly above the ``p``-th percentile of ``n``."""
    return n - math.ceil(n * p / 100.0)


def highest_tail(n: int) -> float | None:
    """The highest percentile in TAIL_PERCENTILES with at least
    MIN_BEYOND samples beyond it, or None when ``n`` is too small for
    any (then only the median is reported)."""
    for p in TAIL_PERCENTILES:
        if samples_beyond(n, p) >= MIN_BEYOND:
            return p
    return None


def latency_summary(prefix: str, values: list[float]) -> dict[str, float]:
    """``<prefix>_p50_s`` plus ``<prefix>_p<tail>_s`` where the tail rule
    allows one; empty when there are no samples."""
    if not values:
        return {}
    out = {f"{prefix}_p50_s": float(np.median(values))}
    tail = highest_tail(len(values))
    if tail is not None:
        out[f"{prefix}_p{tail:g}_s".replace(".", "_")] = float(np.percentile(values, tail))
    return out


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of [start, end] that its
    children's intervals cover (overlapping children count once)."""
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted((max(a, start), min(b, end)) for a, b in children):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (end - start) - covered


_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_METRIC_RE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(value: str) -> float:
    """Numeric value of one Spark SQL metric string from the REST API,
    in seconds for times, bytes for sizes, else a plain count.

    Accepts the plain forms ("1.5 s", "230.2 KiB", "6,000") and the
    per-task summary form, whose total is the first figure after the
    header line::

        total (min, med, max (stageId: taskId))
        2.3 s (560 ms, 574 ms, 578 ms (stage 1.0: task 4))
    """
    text = value.strip()
    if text.startswith("total ("):
        text = text.split("\n", 1)[1] if "\n" in text else ""
    m = _METRIC_RE.match(text)
    if not m:
        raise ValueError(f"unparseable metric value {value!r}")
    num, unit = float(m.group(1).replace(",", "")), m.group(2)
    if unit in _TIME_UNITS:
        return num * _TIME_UNITS[unit]
    if unit in _SIZE_UNITS:
        return num * _SIZE_UNITS[unit]
    if unit:
        raise ValueError(f"unknown metric unit {unit!r} in {value!r}")
    return num
