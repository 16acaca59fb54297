"""What every workload shares: the closed measurement loop and the
result record the runner turns into metrics."""

from __future__ import annotations

import sys
import time
import traceback
from dataclasses import dataclass, field

from perfbench.stats import median


def local_path(uri: str) -> str:
    """Filesystem path of a ``file:`` URI as Spark reports input files."""
    from urllib.parse import unquote, urlparse

    return unquote(urlparse(uri).path)


@dataclass
class Outcome:
    samples: list[float] = field(default_factory=list)  # latency per operation, s
    items: float = 0.0  # work units completed (committed rows)
    wall_s: float = 0.0  # the timed wall time those items took
    attempted: int = 0
    failed: int = 0
    named: dict = field(default_factory=dict)  # issue-named metrics: name -> (value, unit)

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what}", file=sys.stderr)


class Workload:
    """One benchmark workload.  ``setup`` builds inputs and warms up,
    ``measure`` runs the timed load, ``verify`` checks every operation
    against an independent computation, ``layer_metrics`` reads a traced
    run."""

    def __init__(self, spark, seed: int, work: str, tracer, seconds: float):
        self.spark, self.seed, self.work, self.tracer = spark, seed, work, tracer
        self.seconds = seconds
        self.out = Outcome()

    def setup(self) -> None:
        raise NotImplementedError

    def measure(self) -> None:
        raise NotImplementedError

    def verify(self) -> None:
        raise NotImplementedError

    def named_metrics(self) -> None:
        """Fill ``out.named`` with the issue-named end-to-end metrics."""

    def layer_metrics(self, since_epoch: float) -> dict:
        return {}

    def table_roots(self) -> list[str]:
        """Snapshot tables the workload writes (for per-layer file stats)."""
        return []

    def instrument(self) -> None:
        """Wrap the engine functions this workload calls (traced runs)."""

    def closed_loop(self, op) -> None:
        """Run ``op(i)`` back to back for ``self.seconds``.  An operation
        is not started when the median so far says it would overrun, so
        every run measures whole operations (at least one)."""
        t0 = time.perf_counter()
        deadline = t0 + self.seconds
        i = 0
        while not self.out.samples or time.perf_counter() + median(self.out.samples) <= deadline:
            self.tracer.run_id = i
            self.out.attempted += 1
            start = time.perf_counter()
            try:
                n = op(i)
            except Exception:  # noqa: BLE001 - a failed operation is counted, the run goes on
                traceback.print_exc()
                self.out.fail(f"operation {i}")
                n = 0
            dur = time.perf_counter() - start
            # an op may return (items, latency) when only part of it is the
            # user-visible operation
            n, lat = n if isinstance(n, tuple) else (n, dur)
            self.out.samples.append(lat)
            self.out.items += n
            self.out.wall_s += dur
            i += 1
