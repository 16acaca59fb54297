"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of its arguments: the same seed gives
byte-identical inputs, in any process.  No Spark import at module level —
``rrd_fetch`` is resolved by name inside Spark's Python workers.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

import numpy as np

# The ten services of etl.nagios.SERVICE_KEYS with their value-array width.
# Kept here (not imported) so the generators and the oracle stay
# independent of the engine under test.
SERVICES = {
    "Memory Usage": 5,
    "Swap Usage": 3,
    "Disk Usage root": 3,
    "Disk Usage tmp": 3,
    "Disk Usage apps": 3,
    "Disk Usage boot": 3,
    "Disk Usage opt": 3,
    "Disk Usage var": 3,
    "Disk Usage home": 3,
    "CPU Usage": 1,
}
KEPT_GROUPS = ("linux-servers", "windows-servers")
OTHER_GROUPS = ("network-devices", "storage-arrays")
HOUR = 3600
DAY = 24 * HOUR
EPOCH0 = 1_700_000_000 - 1_700_000_000 % DAY  # a UTC midnight


def _u64(*parts) -> int:
    h = hashlib.blake2b("|".join(map(str, parts)).encode(), digest_size=8)
    return int.from_bytes(h.digest(), "little")


def _unit(*parts) -> float:
    return _u64(*parts) / 2.0**64


# ---------------------------------------------------------------------------
# etl_batch: hosts, RRD export fetcher, status inputs
# ---------------------------------------------------------------------------


def etl_hosts(seed: int, n_hosts: int) -> list[tuple[str, str]]:
    """(host_name, host_group); exactly 75 % of hosts sit in a kept group."""
    rng = np.random.default_rng([seed, 1])
    kept = set(rng.permutation(n_hosts)[: n_hosts * 3 // 4].tolist())
    return [
        (f"h{i:04d}", (KEPT_GROUPS if i in kept else OTHER_GROUPS)[int(rng.integers(2))])
        for i in range(n_hosts)
    ]


def run_start(run: int) -> int:
    """First point of nightly run ``run``: 25 hourly points, the first of
    which is the previous run's last (the reference's 25 h lookback)."""
    return EPOCH0 + run * DAY


def rrd_value(seed: int, host: str, service: str, t: int, j: int) -> str:
    return f"{_unit(seed, host, service, t, j) * 500:.2f}"


def rrd_points(seed: int, host: str, service: str, start: int, n: int = 25) -> list[dict]:
    """The rrdexport rows one fetch returns.  Values depend only on
    (host, service, t), so an overlap point re-delivers identical values;
    about 2 % of points are incomplete (a NaN or a short value array), and
    that depends on the fetch as well, so an overlap can heal it."""
    width = SERVICES[service]
    rows = []
    for i in range(n):
        t = start + i * HOUR
        v = [rrd_value(seed, host, service, t, j) for j in range(width)]
        r = _unit(seed, "gap", host, service, t, start)
        if r < 0.01:
            v[int(r * 1000) % width] = "NaN"
        elif r < 0.02:
            v = v[:-1] if width > 1 else ["n/a"]
        rows.append({"t": t, "v": v})
    return rows


def rrd_endpoint(seed: int, log_dir: str = "") -> str:
    return f"perfbench-rrd://{seed}/{log_dir}"


def rrd_fetch(endpoint: str, params: dict) -> dict:
    """The ``fetcher`` handed to ``spark.read.format("nagios_rrd")``.

    The endpoint carries the seed and, in a traced run, a directory where
    each call appends one timing line (the fetcher times itself: it runs
    in Spark's Python workers, outside the driver's tracer)."""
    t0 = time.time()
    seed, _, log_dir = endpoint[len("perfbench-rrd://") :].partition("/")
    rows = rrd_points(int(seed), params["host_name"], params["service_description"], int(params["start"]))
    if log_dir:
        line = json.dumps(
            [params["host_name"], params["service_description"], int(params["start"]),
             t0, time.time(), len(rows)]
        )
        with open(os.path.join(log_dir, f"fetch-{os.getpid()}.jsonl"), "a") as f:
            f.write(line + "\n")
    return {"data": {"row": rows}}


def status_inputs(seed: int, run: int, hosts: list[str]) -> tuple[list, list, list]:
    """(statuses, members, details) for one nightly Influx export."""
    statuses, members, details = [], [], []
    base = run_start(run) + 24 * HOUR
    for h in hosts:
        for s in SERVICES:
            r = _unit(seed, "status", run, h, s)
            state = None if r < 0.03 else str(int(r * 1000) % 4)
            t = base - int(r * 3000)
            last = (
                None if r > 0.98
                else "not-a-time" if r > 0.96
                else time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(t))
            )
            statuses.append((h, s, state, last))
            if _unit(seed, "member", h, s) < 0.6:
                members.append((h, s))
            if _unit(seed, "detail", h, s) < 0.8:
                cv = {"FRIENDLYNAME": f"{h} {s.lower()}"}
                if _unit(seed, "crown", h) < 0.2:
                    cv["CROWNJEWEL"] = "yes"
                details.append((h, s, f"{s} on {h}", cv))
    return statuses, members, details


# ---------------------------------------------------------------------------
# stream_ingest: check-result files on a fixed schedule
# ---------------------------------------------------------------------------

STREAM_SERVICES = tuple(SERVICES)


def stream_plan(seed: int, n_files: int, rows_per_file: int, n_hosts: int = 200) -> list[list[dict]]:
    """Rows of each landing file, in due order.  Each file carries
    ``rows_per_file`` fresh check results plus re-deliveries: ~5 % of
    earlier rows again (the overlap), and every row that was incomplete
    (value null, ~2 %) again, complete, 2-4 files later.  Incomplete rows
    are only planted where their re-delivery still falls inside the plan,
    so every key is delivered complete at least once."""
    rng = np.random.default_rng([seed, 2])
    files: list[list[dict]] = [[] for _ in range(n_files)]
    for i in range(n_files):
        hosts = rng.integers(n_hosts, size=rows_per_file)
        svcs = rng.integers(len(STREAM_SERVICES), size=rows_per_file)
        vals = np.round(rng.random(rows_per_file) * 100, 2)
        gaps = rng.random(rows_per_file)
        delays = rng.integers(2, 5, size=rows_per_file)
        for r in range(rows_per_file):
            # one check result per (host, service, minute): the key is unique
            row = {
                "host_name": f"h{int(hosts[r]):04d}",
                "service_name": STREAM_SERVICES[int(svcs[r])],
                "t": EPOCH0 + (i * rows_per_file + r) * 60,
                "value": float(vals[r]),
            }
            later = i + int(delays[r])
            if gaps[r] < 0.02 and later < n_files:
                files[i].append({**row, "value": None})
                files[later].append(row)
                continue
            files[i].append(row)
            if gaps[r] > 0.95 and later < n_files:
                files[later].append(row)
    return files


def first_complete_file(files: list[list[dict]]) -> dict[tuple, int]:
    """(host, service, t) -> index of the first file delivering it complete."""
    first: dict[tuple, int] = {}
    for i, rows in enumerate(files):
        for r in rows:
            if r["value"] is not None:
                first.setdefault((r["host_name"], r["service_name"], r["t"]), i)
    return first
