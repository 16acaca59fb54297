"""Spans and counters recorded from outside the engine.

The tracer wraps public functions of the engine's modules (by replacing
the module attribute, so in-package calls through the module are seen
too).  A wrapper costs one flag test while tracing is off.  Spans are
(name, start, end, parent, run_id) and stay in memory until the run ends.

Spark is lazy: a span around a plan-building call measures planning
only.  Calls that run Spark actions get their own job group, and the
status store attributes jobs, stages and task time to it afterwards.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from collections import Counter, defaultdict

_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark=None):
        self.spark = spark
        self.active = False
        self.run_id = 0
        self.spans: list[list] = []  # [name, start, end, parent, run_id]
        self.counts: Counter = Counter()
        self._lock = threading.Lock()
        self._local = threading.local()

    # -- recording -------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def count(self, name: str, n: float = 1) -> None:
        if self.recording():
            with self._lock:
                self.counts[name] += n

    @contextlib.contextmanager
    def quiet(self):
        """Record nothing from this thread inside the block (the
        benchmark's own polling is not the workload's)."""
        self._local.quiet = True
        try:
            yield
        finally:
            self._local.quiet = False

    def recording(self) -> bool:
        return self.active and not getattr(self._local, "quiet", False)

    @contextlib.contextmanager
    def span(self, name: str, group: bool = False):
        """Record ``name`` around the block; ``group`` also tags the Spark
        jobs the block runs with the job group ``name``."""
        if not self.recording():
            yield
            return
        stack = self._stack()
        with self._lock:
            idx = len(self.spans)
            self.spans.append([name, time.perf_counter(), None, stack[-1] if stack else None, self.run_id])
        stack.append(idx)
        sc = self.spark.sparkContext if group and self.spark is not None else None
        prev = sc.getLocalProperty(_GROUP) if sc else None
        if sc:
            sc.setLocalProperty(_GROUP, name)
        try:
            yield
        except BaseException as ex:
            with self._lock:
                self.counts[f"{name}.raised.{type(ex).__name__}"] += 1
            raise
        finally:
            if sc:
                sc.setLocalProperty(_GROUP, prev)
            stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def wrap_fn(self, fn, name: str, group: bool = False, after=None):
        """``fn`` recorded as span ``name``; ``after(result, args, kwargs)``
        runs once the span has closed (for counts taken from results)."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.recording():
                return fn(*args, **kwargs)
            with self.span(name, group):
                out = fn(*args, **kwargs)
            if after is not None:
                after(out, args, kwargs)
            return out

        return wrapper

    def wrap(self, module, attr: str, name: str, group: bool = False, after=None) -> None:
        setattr(module, attr, self.wrap_fn(getattr(module, attr), name, group, after))

    # -- summaries ------------------------------------------------------------
    def closed(self, prefix: str = "") -> list[list]:
        return [s for s in self.spans if s[2] is not None and s[0].startswith(prefix)]

    def durations(self, name: str) -> list[float]:
        return [s[2] - s[1] for s in self.spans if s[0] == name and s[2] is not None]

    def busy(self, prefix: str) -> tuple[int, float]:
        """(calls, seconds) of the outermost spans whose name starts with
        ``prefix`` — a layer re-entering itself is counted once."""
        calls, total = 0, 0.0
        for s in self.closed(prefix):
            p = s[3]
            while p is not None and not self.spans[p][0].startswith(prefix):
                p = self.spans[p][3]
            if p is None:
                calls += 1
                total += s[2] - s[1]
        return calls, total

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the part its children cover."""
        covered: dict[int, list] = defaultdict(list)
        for s in self.spans:
            if s[3] is not None and s[2] is not None:
                covered[s[3]].append((s[1], s[2]))
        out: Counter = Counter()
        for i, s in enumerate(self.spans):
            if s[2] is None:
                continue
            cov, lo, hi = 0.0, None, None
            for a, b in sorted(covered.get(i, [])):
                a, b = max(a, s[1]), min(b, s[2])
                if b <= a:
                    continue
                if hi is None or a > hi:
                    cov += (hi - lo) if hi is not None else 0.0
                    lo, hi = a, b
                else:
                    hi = max(hi, b)
            cov += (hi - lo) if hi is not None else 0.0
            out[s[0]] += (s[2] - s[1]) - cov
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts,
                       "self_s": self.self_times(), **extra}, f)


OWN_GROUP = "perfbench"  # jobs the benchmark runs for itself, left out of totals


def engine_stats(spark, since_ms: float, until_ms: float) -> dict:
    """Jobs submitted in [since_ms, until_ms) (epoch ms), read from the
    driver's status store: totals, and the same per job group."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    group_of_stage: dict[int, str] = {}
    groups: dict[str, Counter] = defaultdict(Counter)
    for i in range(jobs.size()):
        j = jobs.apply(i)
        sub = j.submissionTime()
        if not sub.isDefined() or not since_ms <= sub.get().getTime() < until_ms:
            continue
        g = j.jobGroup()
        name = g.get() if g.isDefined() else ""
        groups[name]["jobs"] += 1
        ids = j.stageIds()
        for k in range(ids.size()):
            group_of_stage[ids.apply(k)] = name
    jvm = spark.sparkContext._jvm
    gw = spark.sparkContext._gateway
    # stageList(statuses, details, withSummaries, unsortedQuantiles, taskStatus)
    stages = store.stageList(None, False, False, gw.new_array(jvm.double, 0), jvm.java.util.ArrayList())
    for i in range(stages.size()):
        s = stages.apply(i)
        name = group_of_stage.get(s.stageId())
        if name is None or s.numCompleteTasks() == 0:
            continue
        c = groups[name]
        c["stages"] += 1
        c["tasks"] += s.numCompleteTasks()
        c["executor_run_s"] += s.executorRunTime() / 1000
        c["gc_s"] += s.jvmGcTime() / 1000
        c["shuffle_write_bytes"] += s.shuffleWriteBytes()
        c["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
    totals: Counter = Counter()
    for name, c in groups.items():
        if name != OWN_GROUP:
            totals.update(c)
    return {"totals": dict(totals), "groups": {k: dict(v) for k, v in groups.items()}}
