"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 10 --trace 0

Runs one seeded workload against the engine in the enclosing checkout,
checks every operation against an independent computation, prints the
metrics by name and unit, and as its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` the per-layer metrics of a traced
run.  Exits non-zero, printing no result, when the engine package is not
next to this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "items_per_s": "1/s",
}

PER_LAYER = {
    "rest.fetch_calls": "count",
    "rest.fetch_busy_s": "s",
    "rest.points_out": "count",
    "rest.fetch_useful_ratio": "fraction",
    "etl.extract_pipeline.plan_s": "s",
    "etl.gate_dropped_rows": "count",
    "etl.dedup_removed_rows": "count",
    "etl.status_points.exec_s": "s",
    "sinks.routed.busy_s": "s",
    "sinks.routed.spark_jobs": "count",
    "sinks.routed.rows": "count",
    "sinks.influx.busy_s": "s",
    "sinks.influx.lines": "count",
    "sinks.influx.bytes": "bytes",
    "snapshots.append.calls": "count",
    "snapshots.append.busy_s_p50": "s",
    "snapshots.append.spark_jobs": "count",
    "snapshots.append.files_written": "count",
    "snapshots.commit_retries": "count",
    "snapshots.bytes_written_per_row": "bytes/row",
    "snapshots.compact.calls": "count",
    "snapshots.compact.busy_s": "s",
    "snapshots.compact.bytes_rewritten": "bytes",
    "snapshots.read.plan_s": "s",
    "snapshots.read.files_planned": "count",
    "fsio.calls": "count",
    "fsio.busy_s": "s",
    "streaming.batches": "count",
    "streaming.trigger_s_p50": "s",
    "streaming.add_batch_s_p50": "s",
    "streaming.offset_commit_s_p50": "s",
    "streaming.rows_per_batch_p50": "count",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "streaming.dedup_dropped_rows": "count",
    "streaming.backlog_files_max": "count",
    "gen.late_s_max": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "session.start_s": "s",
    "trace.overhead_frac": "fraction",
}

WORKLOADS = ("etl_batch", "stream_ingest")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: str) -> int:
    """Process environment for the engine; returns local[N]'s N."""
    cpus = min(4, len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
            "pyspark-shell",
        ]
    )
    return cpus


def end_to_end_metrics(setup_s: float, latencies: list[float], items: float, wall_s: float) -> dict:
    from perfbench.stats import median

    return {"setup_s": setup_s, "latency_p50_s": median(latencies), "items_per_s": items / wall_s}


def _workload(name: str):
    if name == "etl_batch":
        from perfbench.etl_batch import EtlBatch as W
    else:
        from perfbench.stream_ingest import StreamIngest as W
    return W


def _peak_rss_mb(spark) -> float:
    from perfbench.stats import proc_hwm_mb, self_hwm_mb

    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return proc_hwm_mb(int(jvm_pid)) + self_hwm_mb()


def _common_layers(wl, session_s: float, since_epoch: float, until_epoch: float) -> dict:
    """Per-layer metrics every workload shares: snapshots, fsio, engine."""
    from perfbench.stats import median
    from perfbench.trace import engine_stats

    t = wl.tracer
    # kept on the workload: its own layers read per-group engine time
    eng = wl.engine = engine_stats(wl.spark, since_epoch * 1000, until_epoch * 1000)
    groups = {g: c.get("jobs", 0) for g, c in eng["groups"].items()}
    app = t.durations("snapshots.append")
    plan = [s[2] - s[1] for s in t.closed("snapshots.read.")]
    fs_calls, fs_busy = t.busy("fsio.")
    out = {
        "snapshots.append.calls": len(app),
        "snapshots.append.busy_s_p50": median(app) if app else 0.0,
        "snapshots.append.spark_jobs": groups.get("snapshots.append", 0),
        "snapshots.commit_retries": t.counts["fsio.create_text_atomic.raised.FileExistsError"],
        "snapshots.compact.calls": len(t.durations("snapshots.compact")),
        "snapshots.compact.busy_s": sum(t.durations("snapshots.compact")),
        "snapshots.read.plan_s": median(plan) if plan else 0.0,
        "snapshots.read.files_planned": t.counts["read.files_planned"],
        "fsio.calls": fs_calls,
        "fsio.busy_s": fs_busy,
        "sinks.routed.spark_jobs": groups.get("sinks.routed", 0),
        "session.start_s": session_s,
        "trace.overhead_frac": _span_cost(t) / (until_epoch - since_epoch),
    }
    out.update({f"spark.{k}": eng["totals"].get(k, 0) for k in
                ("jobs", "stages", "tasks", "executor_run_s", "gc_s", "shuffle_write_bytes", "spill_bytes")})
    out.update(_table_layers(wl, since_epoch))
    return out


def _span_cost(tracer) -> float:
    """Seconds the run's spans cost: each span recorded (and each job group
    set) times the cost of one, measured here on a scratch tracer."""
    from perfbench.trace import Tracer

    probe = Tracer(tracer.spark)
    probe.active = True
    cost = {}
    for group, n in ((False, 2000), (True, 200)):
        t0 = time.perf_counter()
        for _ in range(n):
            with probe.span("probe", group=group):
                pass
        cost[group] = (time.perf_counter() - t0) / n
    grouped = {"snapshots.append", "snapshots.compact", "sinks.routed", "sinks.influx"}
    return sum(cost[s[0] in grouped] for s in tracer.spans)


def _table_layers(wl, since_epoch: float) -> dict:
    """Files and bytes the traced run wrote, from each table's history
    (read after the run, with tracing off)."""
    from nagios_custom_etl_spark.operators import snapshots as S

    from perfbench.harness import local_path

    files_written = bytes_rewritten = appended_rows = 0
    data_bytes = 0
    for root in wl.table_roots():
        hist = S.table_history(wl.spark, root)
        prev_files: set = set()
        prev_rows = 0
        for h in hist:
            files = set(S.read_snapshot(wl.spark, root, h["version"]).inputFiles()) if h["n_files"] else set()
            added = files - prev_files
            if h["committed_at"] >= since_epoch:
                size = sum(os.path.getsize(local_path(f)) for f in added)
                if h["op"] == "append":
                    files_written += len(added)
                    data_bytes += size
                    appended_rows += h["n_rows"] - prev_rows
                elif h["data_change"] is False:
                    bytes_rewritten += size
            prev_files, prev_rows = files, h["n_rows"] or 0
    return {
        "snapshots.append.files_written": files_written,
        "snapshots.bytes_written_per_row": data_bytes / appended_rows if appended_rows else 0.0,
        "snapshots.compact.bytes_rewritten": bytes_rewritten,
    }


def instrument_common(tracer) -> None:
    """Wrap the snapshot and fsio public functions every workload reaches."""
    from nagios_custom_etl_spark import fsio
    from nagios_custom_etl_spark.operators import snapshots as S

    for fn in ("write_text", "create_text_atomic", "rename_nooverwrite", "read_text", "exists",
               "delete", "mkdirs", "list_names", "list_files_recursive", "list_files_with_sizes",
               "mtime_ms", "file_size", "stat_mtime_size"):
        tracer.wrap(fsio, fn, f"fsio.{fn}")

    def planned(out, args, kwargs):  # noqa: ARG001
        df = out[0] if isinstance(out, tuple) else out
        tracer.count("read.files_planned", len(df.inputFiles()))

    tracer.wrap(S, "append", "snapshots.append", group=True)
    tracer.wrap(S, "compact", "snapshots.compact", group=True)
    for fn in ("read_snapshot", "read_snapshot_pruned", "read_incremental"):
        tracer.wrap(S, fn, f"snapshots.read.{fn}", after=planned)
    for fn in ("read_changes", "metadata_count", "table_history", "latest_version"):
        tracer.wrap(S, fn, f"snapshots.{fn}")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "nagios_custom_etl_spark", "__init__.py")):
        print(f"perfbench: no nagios_custom_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        cpus = _environment(work)
        t0 = time.perf_counter()
        from nagios_custom_etl_spark.session import get_spark

        from perfbench.trace import Tracer

        spark = get_spark(f"perfbench-{args.workload}", cpus=cpus)
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark)
        wl = _workload(args.workload)(spark, args.seed, work, tracer, args.seconds)
        wl.setup()
        setup_s = time.perf_counter() - t0
        if args.trace:
            instrument_common(tracer)
            wl.instrument()
        since_epoch = time.time()
        tracer.active = bool(args.trace)
        wl.measure()
        tracer.active = False
        until_epoch = time.time()
        wl.verify()
        wl.named_metrics()
        o = wl.out
        if args.trace:
            metrics = {k: 0.0 for k in PER_LAYER}
            metrics.update(_common_layers(wl, session_s, since_epoch, until_epoch))
            metrics.update(wl.layer_metrics(since_epoch))
            units = PER_LAYER
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace.json"),
                        {"metrics": metrics, "engine": wl.engine})
        else:
            metrics = end_to_end_metrics(setup_s, o.samples, o.items, o.wall_s)
            units = END_TO_END
            o.named["setup_s"] = (setup_s, "s")
            o.named["peak_rss_mb"] = (_peak_rss_mb(spark), "MB")
        o.named["ops_failed_frac"] = (o.failed / max(1, o.attempted), f"fraction ({o.failed}/{o.attempted})")
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    for name, (value, unit) in o.named.items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    for name, value in metrics.items():
        print(f"{args.workload} metric {name} = {value:.6g} {units[name]}")
    result = {
        "correct": o.failed == 0,
        "attempted": o.attempted,
        "failed": o.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
