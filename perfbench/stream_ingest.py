"""stream_ingest: open-loop check-result files into one streaming query.

A generator thread writes seeded check-result files into a landing
directory on a fixed schedule and never slows for the engine.  The engine
runs one Structured Streaming query: file source, completeness gate,
``dropDuplicatesWithinWatermark`` (``streaming.ops.cross_run_dedup``), and
``streaming.ops.snapshot_append_sink`` with inline auto-compaction under a
processing-time trigger.  A row's lag is the ``committed_at`` of the
version that first holds it minus the time its file was due.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

from perfbench import gen
from perfbench.harness import Workload
from perfbench.stats import median, open_loop_lags, summarize

FILES_PER_S = 4.0
ROWS_PER_FILE = 100
FIRST_FILES = 2  # the query's first, cold batch
WARM_FILES = 12  # then 3 s on schedule, so timing starts in steady state
# longer than a batch takes even on a busy host, so batches start on a
# fixed cadence and a row's lag is a uniform wait plus one batch, not a queue
TRIGGER = "3 seconds"
AUTO_COMPACT_FILES = 16
DRAIN_TIMEOUT_S = 60.0
SCHEMA = "host_name string, service_name string, t long, value double"


class StreamIngest(Workload):
    def setup(self) -> None:
        self.landing = os.path.join(self.work, "landing")
        self.staging = os.path.join(self.work, "staging")
        self.root = os.path.join(self.work, "table")
        os.makedirs(self.landing)
        os.makedirs(self.staging)
        self.lead = FIRST_FILES + WARM_FILES  # files before the timed ones
        self.n_timed = max(1, int(round(FILES_PER_S * self.seconds)))
        self.files = gen.stream_plan(self.seed, self.lead + self.n_timed, ROWS_PER_FILE)
        self.first = gen.first_complete_file(self.files)
        self.late: list[float] = []
        for i in range(FIRST_FILES):
            self._write(i)
        self.query = self._start()
        self._wait_rows(sum(1 for i in self.first.values() if i < FIRST_FILES))
        # warm files and timed files share one schedule; setup ends when
        # the first timed file is due
        self.t0 = time.time() + WARM_FILES / FILES_PER_S
        self.gen_thread = threading.Thread(target=self._generate, daemon=True)
        self.gen_thread.start()
        time.sleep(max(0.0, self.t0 - time.time()))

    def due(self, i: int) -> float:
        """When file ``i`` is due (epoch s); timed files start at ``t0``."""
        return self.t0 + (i - self.lead) / FILES_PER_S

    def _start(self):
        from pyspark.sql import functions as F

        from nagios_custom_etl_spark.streaming import ops

        src = self.spark.readStream.schema(SCHEMA).json(self.landing)
        # completeness gate, in the shape of ops.late_data_gate
        gated = src.filter(F.col("value").isNotNull() & ~F.isnan("value"))
        keyed = gated.select(
            "*",
            F.timestamp_seconds("t").alias("ts"),
            F.concat_ws("|", "host_name", "service_name", F.col("t").cast("string")).alias("event_id"),
        )
        out = ops.cross_run_dedup(keyed).drop("ts", "event_id")
        sink = ops.snapshot_append_sink(self.root, auto_compact_files=AUTO_COMPACT_FILES)
        sink = self.tracer.wrap_fn(sink, "streaming.sink_batch")
        return (
            out.writeStream.foreachBatch(sink)
            .trigger(processingTime=TRIGGER)
            .option("checkpointLocation", os.path.join(self.work, "checkpoint"))
            .start()
        )

    def _write(self, i: int) -> None:
        tmp = os.path.join(self.staging, f"part-{i:06d}.json")
        with open(tmp, "w") as f:
            for row in self.files[i]:
                f.write(json.dumps(row) + "\n")
        os.rename(tmp, os.path.join(self.landing, f"part-{i:06d}.json"))

    def _committed_rows(self) -> int:
        from nagios_custom_etl_spark.operators import snapshots as S

        with self.tracer.quiet():
            if not S.latest_version(self.spark, self.root):
                return 0
            return S.metadata_count(self.spark, self.root)

    def _wait_rows(self, n: int) -> None:
        deadline = time.monotonic() + DRAIN_TIMEOUT_S
        while self._committed_rows() < n:
            if self.query.exception() is not None:
                raise RuntimeError(f"streaming query failed: {self.query.exception()}")
            if time.monotonic() > deadline:
                raise TimeoutError(f"fewer than {n} rows committed after {DRAIN_TIMEOUT_S}s")
            time.sleep(0.1)

    def _generate(self) -> None:
        for i in range(FIRST_FILES, len(self.files)):
            pause = self.due(i) - time.time()
            if pause > 0:
                time.sleep(pause)
            self._write(i)
            if i >= self.lead:
                self.late.append(time.time() - self.due(i))

    def measure(self) -> None:
        self.gen_thread.join()
        try:
            self._wait_rows(len(self.first))
        except (TimeoutError, RuntimeError) as ex:  # rows left out count as failed in verify
            print(f"perfbench: {ex}", file=sys.stderr)
        self.progress = list(self.query.recentProgress)
        self.query.stop()

    def verify(self) -> None:
        from nagios_custom_etl_spark.operators import snapshots as S

        hist = {h["version"]: h["committed_at"] for h in S.table_history(self.spark, self.root)}
        rows = (
            S.read_changes(self.spark, self.root, 0)
            .select("host_name", "service_name", "t", "_commit_version", "_change_type")
            .collect()
        )
        seen: dict[tuple, int] = {}
        committed: dict[tuple, float] = {}
        for r in rows:
            k = (r["host_name"], r["service_name"], r["t"])
            seen[k] = seen.get(k, 0) + (r["_change_type"] == "insert")
            committed[k] = min(committed.get(k, float("inf")), hist[r["_commit_version"]])
        due = {k: self.due(i) for k, i in self.first.items() if i >= self.lead}
        lags = open_loop_lags(due, committed)
        # every row is one operation: committed exactly once, or failed
        self.out.attempted = len(self.first)
        missing = set(self.first) - set(seen)
        dupes = [k for k, n in seen.items() if n != 1]
        extra = set(seen) - set(self.first)
        for what, keys in (("missing", missing), ("duplicated", dupes), ("unexpected", extra)):
            if keys:
                print(f"perfbench: stream {len(keys)} rows {what}, e.g. {sorted(keys)[:3]}", file=sys.stderr)
                self.out.failed += len(keys)
        self.out.samples = list(lags.values())
        self.out.items = len(lags)
        self.out.wall_s = max(committed[k] for k in lags) - self.t0
        self.committed_keys = committed

    def named_metrics(self) -> None:
        s = summarize(self.out.samples)
        self.out.named["ingest_lag_p50_s"] = (s["p50"], f"s (n={s['n']})")
        for k, v in s.items():
            if k.startswith("p") and k != "p50":
                self.out.named[f"ingest_lag_{k}_s"] = (v, f"s (n={s['n']})")
        self.out.named["ingest_rows_per_s"] = (
            self.out.items / self.out.wall_s,
            f"rows/s (offered {FILES_PER_S * ROWS_PER_FILE:g}/s before dedup)",
        )
        self.out.named["gen_late_s_max"] = (max(self.late), "s")
        size = sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(self.root) for f in fs)
        self.out.named["stored_bytes_per_row"] = (size / self._committed_rows(), "bytes/row")

    def instrument(self) -> None:
        from nagios_custom_etl_spark.streaming import ops

        self.tracer.wrap(ops, "cross_run_dedup", "streaming.cross_run_dedup")

    def layer_metrics(self, since_epoch: float) -> dict:
        since = self.t0
        prog = [p for p in self.progress if _epoch(p["timestamp"]) >= since and p["numInputRows"] > 0]
        dur = lambda key: [p["durationMs"].get(key, 0) / 1000 for p in prog]  # noqa: E731
        state = [op for p in prog for op in p.get("stateOperators", [])]
        last = state[-1] if state else {}
        # backlog: at each traced file's due time, how many earlier files
        # still had rows not yet committed
        done_at: dict[int, float] = {}
        for k, i in self.first.items():
            if i >= self.lead and k in self.committed_keys:
                done_at[i] = max(done_at.get(i, 0.0), self.committed_keys[k])
        dues = {i: self.due(i) for i in done_at}
        backlog = [sum(1 for i in done_at if i <= j and done_at[i] > dues[j]) for j in dues if dues[j] >= since]
        late = [lt for j, lt in enumerate(self.late) if self.due(self.lead + j) >= since]
        return {
            "streaming.batches": len(prog),
            "streaming.trigger_s_p50": median(dur("triggerExecution")) if prog else 0.0,
            "streaming.add_batch_s_p50": median(dur("addBatch")) if prog else 0.0,
            "streaming.offset_commit_s_p50": median(dur("commitOffsets")) if prog else 0.0,
            "streaming.rows_per_batch_p50": median([p["numInputRows"] for p in prog]) if prog else 0.0,
            "streaming.state_rows": last.get("numRowsTotal", 0),
            "streaming.state_bytes": last.get("memoryUsedBytes", 0),
            "streaming.dedup_dropped_rows": sum(
                op.get("customMetrics", {}).get("numDroppedDuplicateRows", 0) for op in state
            ),
            "streaming.backlog_files_max": max(backlog, default=0),
            "gen.late_s_max": max(late, default=0.0),
        }

    def table_roots(self) -> list[str]:
        return [self.root]


def _epoch(iso: str) -> float:
    import datetime as dt

    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()
