"""Independent recomputations of every workload's expected output.

Nothing here imports the engine: the oracles work from the generators'
inputs in plain Python, so a defect shared by the engine
and its own helpers cannot hide.
"""

from __future__ import annotations

import calendar
import math
import time

from perfbench import gen

ROUTES = ("cpu", "memory", "disk", "swap")


def route_of(service: str) -> str:
    """The reference's substring routing (load_to_db.py)."""
    s = service.lower()
    return next(r for r in ROUTES if r in s)


TABLES = {"cpu": "host_cpu_usage", "memory": "host_mem_usage", "disk": "host_disk_usage",
          "swap": "host_swap_usage", "disk_home": "host_disk_home_usage"}


def table_of(service: str) -> str:
    return TABLES["disk_home" if service == "Disk Usage home" else route_of(service)]


def _complete(v: list[str], width: int) -> list[float] | None:
    """The completeness gate: every value present and a finite number."""
    if len(v) != width:
        return None
    out = []
    for x in v:
        try:
            f = float(x)
        except ValueError:
            return None
        if math.isnan(f):
            return None
        out.append(f)
    return out


def etl_committed(seed: int, kept: list[str], run: int, previous: set) -> set:
    """Rows nightly run ``run`` commits, as (host, t, service, values):
    points of kept hosts that pass the completeness gate, minus rows the
    previous run committed identically."""
    committed = set()
    for h in kept:
        for svc, width in gen.SERVICES.items():
            for p in gen.rrd_points(seed, h, svc, gen.run_start(run)):
                vals = _complete(p["v"], width)
                if vals is not None and (h, p["t"], svc, tuple(vals)) not in previous:
                    committed.add((h, p["t"], svc, tuple(vals)))
    return committed


def etl_expected(seed: int, hosts: list[tuple[str, str]], runs: list[int]) -> dict:
    """Per (run, table): committed rows and the sum of their values, and
    per run the Influx line count, for consecutive ``runs`` after run 0
    (whose commit is the first one's previous run)."""
    kept = [h for h, g in hosts if g in gen.KEPT_GROUPS]
    tables: dict[tuple, tuple] = {}
    lines: dict[int, int] = {}
    previous = etl_committed(seed, kept, 0, set())
    for k in runs:
        committed = etl_committed(seed, kept, k, previous)
        for t in TABLES.values():
            tables[(k, t)] = (0, 0.0)
        for h, _, svc, vals in committed:
            n, s = tables[(k, table_of(svc))]
            tables[(k, table_of(svc))] = (n + 1, s + sum(vals))
        previous = committed
        statuses, members, _ = gen.status_inputs(seed, k, [h for h, _ in hosts])
        member_set = set(members)
        lines[k] = sum(1 for h, s, _, last in statuses if (h, s) in member_set and _parses(last))
    return {"tables": tables, "lines": lines}


def _parses(last: str | None) -> bool:
    if last is None:
        return False
    try:
        calendar.timegm(time.strptime(last, "%Y-%m-%d %H:%M:%S"))
    except ValueError:
        return False
    return True
