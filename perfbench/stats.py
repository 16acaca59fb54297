"""Sample statistics and process measurements (no Spark import)."""

from __future__ import annotations

import math
import resource


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``q`` %
    of the samples at or below it."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    if not n:
        raise ValueError("no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail_percentile(n: int, cap: float = 90.0, beyond: int = 10) -> float | None:
    """The highest whole percentile, at most ``cap``, that leaves at least
    ``beyond`` samples above it; None when even the median does not."""
    best = None
    for q in range(50, int(cap) + 1):
        if n - math.ceil(q / 100 * n) >= beyond:
            best = float(q)
    return best


def summarize(values: list[float]) -> dict:
    """p50 plus the tail percentile the sample supports, with the count."""
    out = {"n": len(values), "p50": median(values)}
    q = tail_percentile(len(values))
    if q is not None:
        out[f"p{q:g}"] = percentile(values, q)
    return out


def open_loop_lags(due: dict, committed: dict) -> dict:
    """Per-item lag of an open-loop run: commit time minus the time the
    item was DUE, never the time it was actually sent — a generator that
    falls behind hides nothing.  Items never committed are absent."""
    return {k: committed[k] - due[k] for k in due if k in committed}


def proc_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a live process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise ValueError(f"no VmHWM for pid {pid}")


def self_hwm_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
