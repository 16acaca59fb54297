"""Tests of the benchmark itself (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, run  # noqa: E402
from perfbench.stats import open_loop_lags, percentile, summarize, tail_percentile  # noqa: E402


def _digest(seed: int) -> dict[str, str]:
    """One hash per generator over everything it produces for ``seed``."""
    h = {}
    hosts = gen.etl_hosts(seed, 40)
    pts = [gen.rrd_fetch(gen.rrd_endpoint(seed), {"host_name": n, "service_description": s,
                                                   "start": gen.run_start(1)})
           for n, _ in hosts[:5] for s in gen.SERVICES]
    h["rrd"] = json.dumps([hosts, pts, gen.status_inputs(seed, 1, [n for n, _ in hosts])], sort_keys=True)
    h["stream"] = json.dumps(gen.stream_plan(seed, 12, 50))
    return {k: hashlib.sha256(v.encode()).hexdigest() for k, v in h.items()}


def test_same_seed_same_bytes_other_seed_differs():
    a, b, c = _digest(7), _digest(7), _digest(8)
    assert a == b
    assert all(a[k] != c[k] for k in a)


def test_fetcher_overlap_point_repeats_previous_run_values():
    prev = gen.rrd_points(3, "h0001", "Memory Usage", gen.run_start(0))
    cur = gen.rrd_points(3, "h0001", "Memory Usage", gen.run_start(1))
    assert prev[-1]["t"] == cur[0]["t"]
    assert len(prev) == len(cur) == 25
    full = [gen.rrd_value(3, "h0001", "Memory Usage", cur[0]["t"], j) for j in range(5)]
    assert cur[0]["v"] == full or prev[-1]["v"] == full  # both incomplete is ~0.04 %


def test_stream_plan_delivers_every_key_complete():
    files = gen.stream_plan(5, 30, 100)
    keys = {(r["host_name"], r["service_name"], r["t"]) for f in files for r in f}
    assert set(gen.first_complete_file(files)) == keys
    assert any(r["value"] is None for f in files for r in f)


def test_percentile_and_tail_rule():
    vals = list(range(1, 101))
    assert percentile(vals, 50) == 50 and percentile(vals, 90) == 90
    assert tail_percentile(100) == 90.0  # exactly 10 samples above p90
    assert tail_percentile(99) == 89.0
    assert tail_percentile(20) == 50.0
    assert tail_percentile(19) is None  # even the median leaves only 9
    s = summarize([float(v) for v in vals])
    assert s["n"] == 100 and s["p90"] == 90 and s["p50"] == 50.5
    assert "p50" in summarize([1.0, 2.0]) and len(summarize([1.0, 2.0])) == 2


def test_open_loop_lag_is_timed_from_due_time():
    due = {"a": 10.0, "b": 11.0}
    sent = {"a": 10.0, "b": 14.0}  # the generator ran 3 s late on b
    committed = {"a": 10.5, "b": 14.5}
    lags = open_loop_lags(due, committed)
    assert lags == {"a": 0.5, "b": 3.5}
    assert lags["b"] != committed["b"] - sent["b"]
    assert open_loop_lags(due, {"a": 12.0}) == {"a": 2.0}  # uncommitted rows have no lag


def test_metric_names_and_units():
    for name, unit in {**run.END_TO_END, **run.PER_LAYER}.items():
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", name), name
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", unit), unit


def test_benchmark_json_lists_what_the_command_emits():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert spec["paths"] == ["perfbench"]
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    e2e = run.end_to_end_metrics(1.0, [0.5, 0.25], 10.0, 2.0)
    assert set(e2e) == set(run.END_TO_END)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl_batch", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert "correct" not in p.stdout


@pytest.mark.parametrize("bad", [["--workload", "nope"], ["--seed", "x"]])
def test_rejects_bad_arguments(bad):
    args = {"--workload": "etl_batch", "--seed": "1", "--seconds": "1"}
    args.update(dict(zip(bad[::2], bad[1::2])))
    with pytest.raises(SystemExit):
        run.parse_args([x for kv in args.items() for x in kv])
