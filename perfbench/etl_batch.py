"""etl_batch: consecutive nightly cron runs of the paper's ETL.

Each run reads 25 hourly RRD points per (host, service) through the
``nagios_rrd`` source with the benchmark's seeded fetcher, runs
``etl.nagios.extract_pipeline`` (host-group filter, completeness gate,
dedup against the previous run's commit), fans the rows out with
``sinks.jdbc_routed.write_routed`` into one snapshot table per route, and
exports the status points as Influx line protocol to a file sink.

Disk routing: ``Disk Usage home`` spells ``Free_Gib`` where the other disk
families spell ``Free_GiB``.  The family gets its own table,
``host_disk_home_usage``: the writer splits it off the disk route.  One
merged disk schema cannot hold both spellings, because Spark resolves
column names case-insensitively and refuses to write the pair.
"""

from __future__ import annotations

import glob
import json
import math
import os
import sys
import time
from functools import reduce

from perfbench import gen, oracle
from perfbench.harness import Workload, local_path
from perfbench.oracle import table_of
from perfbench.stats import median

N_HOSTS = 40
HOME_TABLE = "host_disk_home_usage"
FETCHER = "perfbench.gen:rrd_fetch"


class EtlBatch(Workload):
    def setup(self) -> None:
        from pyspark.sql import functions as F

        from nagios_custom_etl_spark.etl import nagios as N
        from nagios_custom_etl_spark.sinks.influx import register_influx_sink
        from nagios_custom_etl_spark.sinks.jdbc_routed import ROUTE_TABLES
        from nagios_custom_etl_spark.sources.rest import register_sources

        register_sources(self.spark)
        register_influx_sink(self.spark)
        self.F, self.N = F, N
        self.hosts = gen.etl_hosts(self.seed, N_HOSTS)
        self.host_names = [h for h, _ in self.hosts]
        self.hosts_df = self.spark.createDataFrame(self.hosts, "host_name string, host_group string")
        self.table_cols: dict[str, list[str]] = {}
        for svc, keys in N.SERVICE_KEYS.items():
            cols = self.table_cols.setdefault(table_of(svc), [])
            cols += [k for k in keys if k not in cols]
        self.roots = {t: os.path.join(self.work, "tables", t) for t in self.table_cols}
        self.fetch_log = os.path.join(self.work, "fetch-log")
        os.makedirs(self.fetch_log)
        self.disk_table = ROUTE_TABLES["disk"]
        self.versions: dict[str, list[int]] = {t: [0] for t in self.roots}
        self.runs: list[dict] = []
        self.run(0)  # warm-up; its commit is the first timed run's previous run
        self.runs.clear()

    # -- one nightly run ---------------------------------------------------
    def perf_raw(self, k: int, log: bool):
        return (
            self.spark.read.format("nagios_rrd")
            .option("endpoint", gen.rrd_endpoint(self.seed, self.fetch_log if log else ""))
            .option("fetcher", FETCHER)
            .option("hosts", ",".join(self.host_names))
            .option("start_ts", str(gen.run_start(k)))
            .option("num_partitions", str(self.spark.sparkContext.defaultParallelism))
            .load()
        )

    def previous_wide(self, k: int) -> dict:
        from nagios_custom_etl_spark.operators import snapshots as S

        out = {}
        for table, root in self.roots.items():
            vs = self.versions[table]
            prev = S.read_incremental(self.spark, root, since_version=vs[k - 1], to_version=vs[k])
            for svc, keys in self.N.SERVICE_KEYS.items():
                if table_of(svc) == table:
                    out[svc] = prev.filter(self.F.col("service_name") == svc).select(
                        *self.N.KEY_COLUMNS, *keys
                    )
        return out

    def writer(self, part, table: str) -> None:
        """Append one route's rows; the disk route splits off the home
        family into its own table."""
        from nagios_custom_etl_spark.operators import snapshots as S

        F = self.F
        targets = [(table, part)]
        if table == self.disk_table:
            home = F.col("service_name") == "Disk Usage home"
            targets = [(table, part.filter(~home)), (HOME_TABLE, part.filter(home))]
        for t, df in targets:
            self._run_versions[t] = S.append(
                df.select(*self.N.KEY_COLUMNS, *self.table_cols[t]), self.roots[t],
                stats_cols=["host_name", "timestamp"], single_file=True,
            )

    def run(self, k: int) -> int:
        from nagios_custom_etl_spark.sinks.influx import line_protocol
        from nagios_custom_etl_spark.sinks.jdbc_routed import write_routed

        F, N = self.F, self.N
        t0 = time.perf_counter()
        traced = self.tracer.active
        # fetched once per run and cached: every family branch of the plan
        # reads the cached points, not the REST source
        raw = self.perf_raw(k, traced).cache()
        wide = N.extract_pipeline(self.hosts_df, raw, self.previous_wide(k) if k else None)
        union = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), wide.values())
        self._run_versions = {}
        counts = write_routed(union, self.writer)
        raw.unpersist()
        for table, vs in self.versions.items():
            vs.append(self._run_versions.get(table, vs[-1]))
        statuses, members, details = gen.status_inputs(self.seed, k, self.host_names)
        points = N.status_points_pipeline(
            self.spark.createDataFrame(
                statuses, "host_name string, service_description string, current_state string, last_check string"
            ),
            self.spark.createDataFrame(members, "host_name string, service_description string"),
            self.spark.createDataFrame(
                details,
                "host_name string, service_description string, display_name string, customvars map<string,string>",
            ),
        )
        line = line_protocol(
            "service_status",
            {k_: points["tags"][k_] for k_ in ("service_description", "display_name", "friendlyname", "crownjewel", "host_name")},
            {"service_status": ("str", points["fields"]["service_status"]),
             "service_status_numeric": ("int", points["fields"]["service_status_numeric"])},
            points["time"],
        )
        spool = os.path.join(self.work, "influx", f"run-{k}")
        with self.tracer.span("sinks.influx", group=True):
            points.select(line.alias("line")).write.format("influx_lines").option("path", spool).option(
                "jobid", str(k)
            ).mode("append").save()
        rows = sum(n for r, n in counts.items() if r != "unrouted")
        self.runs.append({"run": k, "counts": counts, "spool": spool, "traced": traced})
        latency = time.perf_counter() - t0
        if traced:
            self._gate_counts(k)
        return rows, latency

    def _gate_counts(self, k: int) -> None:
        """Traced runs only, after the run: rows the gate kept, recounted
        through the program's own pivot+gate with an unlogged fetcher."""
        from perfbench.trace import OWN_GROUP

        sc = self.spark.sparkContext
        self.tracer.active = False
        sc.setLocalProperty("spark.jobGroup.id", OWN_GROUP)
        try:
            kept = [h for h, g in self.hosts if g in gen.KEPT_GROUPS]
            raw = self.perf_raw(k, False).cache()
            scoped = raw.join(
                self.F.broadcast(self.spark.createDataFrame([(h,) for h in kept], "host_name string")),
                "host_name", "left_semi",
            )
            wide = self.N.rrd_points_to_wide(scoped)
            self.runs[-1]["gated"] = sum(df.count() for df in wide.values())
            self.runs[-1]["kept_hosts"] = set(kept)
            raw.unpersist()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.tracer.active = True

    # -- harness hooks -------------------------------------------------------
    def measure(self) -> None:
        self.closed_loop(lambda i: self.run(i + 1))

    def verify(self) -> None:
        """Each timed run's commit, read straight from its parquet files,
        against the plain-Python recomputation."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from nagios_custom_etl_spark.operators import snapshots as S

        expect = oracle.etl_expected(self.seed, self.hosts, [r["run"] for r in self.runs])
        got: dict[tuple, tuple] = {}
        for table, root in self.roots.items():
            vs = self.versions[table]
            for run in self.runs:
                k = run["run"]
                files = S.read_incremental(self.spark, root, since_version=vs[k], to_version=vs[k + 1]).inputFiles()
                data = pq.read_table([local_path(f) for f in files])
                got[(k, table)] = (data.num_rows, sum(pc.sum(data[c]).as_py() or 0.0 for c in self.table_cols[table]))
        for run in self.runs:
            k = run["run"]
            ok = True
            routed = {}
            for table in self.roots:
                n, s = got.get((k, table), (0, 0.0))
                en, es = expect["tables"][(k, table)]
                route = oracle.route_of(next(sv for sv in gen.SERVICES if table_of(sv) == table))
                routed[route] = routed.get(route, 0) + en
                if n != en or not math.isclose(s, es, rel_tol=1e-9, abs_tol=1e-6):
                    print(f"etl run {k} table {table}: rows {n} vs {en}, sum {s} vs {es}", file=sys.stderr)
                    ok = False
            if any(run["counts"][r] != n for r, n in routed.items()) or run["counts"]["unrouted"]:
                print(f"etl run {k}: routed counts {run['counts']} vs {routed}", file=sys.stderr)
                ok = False
            lines = _spool_lines(run["spool"])
            if lines != expect["lines"][k]:
                print(f"etl run {k}: influx lines {lines} vs {expect['lines'][k]}", file=sys.stderr)
                ok = False
            if not ok:
                self.out.fail(f"etl run {k}")
        rows = sum(self._table_rows().values())
        self.out.named["stored_bytes_per_row"] = (_dir_bytes(os.path.join(self.work, "tables")) / rows, "bytes/row")

    def _table_rows(self) -> dict:
        from nagios_custom_etl_spark.operators import snapshots as S

        return {t: S.metadata_count(self.spark, root) for t, root in self.roots.items()}

    def named_metrics(self) -> None:
        lat = self.out.samples
        self.out.named["etl_run_p50_s"] = (median(lat), f"s (n={len(lat)})")
        self.out.named["etl_rows_per_s"] = (self.out.items / self.out.wall_s, "rows/s")

    def instrument(self) -> None:
        from nagios_custom_etl_spark.etl import nagios as N
        from nagios_custom_etl_spark.sinks import jdbc_routed

        t = self.tracer
        t.wrap(N, "extract_pipeline", "etl.extract_pipeline")
        t.wrap(N, "status_points_pipeline", "etl.status_points_pipeline")

        def routed_rows(out, args, kwargs):  # noqa: ARG001
            t.count("sinks.routed.rows", sum(n for r, n in out.items() if r != "unrouted"))

        t.wrap(jdbc_routed, "write_routed", "sinks.routed", group=True, after=routed_rows)

    def layer_metrics(self, since_epoch: float) -> dict:
        t = self.tracer
        calls = []
        for path in glob.glob(os.path.join(self.fetch_log, "*.jsonl")):
            with open(path) as f:
                calls += [json.loads(line) for line in f]
        traced = [r for r in self.runs if r["traced"]]
        kept = traced[0]["kept_hosts"] if traced else set()
        pre_gate = sum(c[5] for c in calls if c[0] in kept)
        gated = sum(r["gated"] for r in traced)
        routed = sum(n for r in traced for rt, n in r["counts"].items() if rt != "unrouted")
        lines = sum(_spool_lines(r["spool"]) for r in traced)
        spool_bytes = sum(
            os.path.getsize(p) for r in traced for p in glob.glob(os.path.join(r["spool"], "part-*.lp"))
        )
        plan = t.durations("etl.extract_pipeline")
        return {
            "rest.fetch_calls": len(calls),
            "rest.fetch_busy_s": sum(c[4] - c[3] for c in calls),
            "rest.points_out": sum(c[5] for c in calls),
            "rest.fetch_useful_ratio": len({tuple(c[:3]) for c in calls}) / len(calls) if calls else 0.0,
            "etl.extract_pipeline.plan_s": median(plan) if plan else 0.0,
            "etl.gate_dropped_rows": pre_gate - gated,
            "etl.dedup_removed_rows": gated - routed,
            "etl.status_points.exec_s": self.engine["groups"].get("sinks.influx", {}).get("executor_run_s", 0.0),
            "sinks.routed.busy_s": sum(t.durations("sinks.routed")),
            "sinks.routed.rows": t.counts["sinks.routed.rows"],
            "sinks.influx.busy_s": sum(t.durations("sinks.influx")),
            "sinks.influx.lines": lines,
            "sinks.influx.bytes": spool_bytes,
        }

    def table_roots(self) -> list[str]:
        return list(self.roots.values())


def _spool_lines(spool: str) -> int:
    from nagios_custom_etl_spark.sinks.influx import read_committed_lines

    return len(read_committed_lines(spool))


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)

