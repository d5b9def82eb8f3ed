"""Smoke test of the benchmark at a tiny input size.

Run from the repository root (it starts one Spark JVM per case, a few
minutes in all)::

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider

It checks that every end-to-end metric of ``BENCHMARK.json`` is printed
with its unit, that ops attempted and failed are reported, that the traced
run prints every per-layer metric, that a deliberately wrong reference makes
the correctness check fail, and that the benchmark refuses to run without
the engine's sources.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

import gen
import run
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
WORKLOADS = sorted(workloads.WORKLOADS)
assert WORKLOADS == sorted(w["name"] for w in SPEC["workloads"])


def _run(*extra, cwd=ROOT, workload="fanout_batch"):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7", "--seconds", "2"]
    return subprocess.run(cmd + ["--scale", "0.1", *extra], cwd=cwd, capture_output=True, text=True, timeout=300)


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_printed_with_units(workload):
    proc = _run("--trace", "0", workload=workload)
    res = _result(proc)
    assert res["correct"] is True and res["failed"] == 0
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1
    assert set(res["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    for m in SPEC["end_to_end"]:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0
        line = next(l for l in proc.stdout.splitlines() if l.startswith(f"{workload}/{m['name']} = "))
        assert "samples" in line or m["name"] in ("setup_s", "throughput_per_s")
    assert f"{workload}: ops attempted {res['attempted']}, failed 0" in proc.stdout
    assert "input digest" in proc.stdout


@pytest.mark.parametrize("workload", WORKLOADS)
def test_wrong_reference_fails_the_check(workload):
    res = _result(_run("--trace", "0", "--corrupt-reference", workload=workload))
    assert res["correct"] is False
    assert res["failed"] >= 1


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_prints_every_layer_metric(workload):
    proc = _run("--trace", "1", workload=workload)
    res = _result(proc)
    assert res["correct"] is True and res["failed"] == 0
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    bypassed = workloads.WORKLOADS[workload].BYPASSED
    for name, got in res["metrics"].items():
        if name.startswith(bypassed):
            assert got["value"] == 0 and f"{workload}/{name} = n/a" in proc.stdout
    assert any(name.startswith(bypassed) for name in want)  # each workload bypasses a layer
    if workload == "fanout_batch":
        assert res["metrics"]["filtering.jobs_per_op"]["value"] == len(workloads.FANOUT_SUBS)
        assert res["metrics"]["io.load_first_ms"]["value"] > 0
    else:
        assert res["metrics"]["streaming.pipeline.addBatch_ms"]["value"] > 0
        assert res["metrics"]["streaming.pipeline.files_per_batch"]["value"] == 1


def test_failures_count_keys_that_name_no_timed_op():
    ops = [workloads.Op(f"batch{i}", 0.1, 10) for i in (2, 3, 4)]
    assert run.failures(ops, set()) == 0
    assert run.failures(ops, {"batch3"}) == 1
    assert run.failures(ops, {"batch0", "files"}) == 2  # a warm-up epoch, the file accounting
    assert run.failures(ops, {"all"}) == 3


def test_same_seed_same_digest():
    a, _ = gen.events(5, 1, 500, 0)
    b, _ = gen.events(5, 1, 500, 0)
    c, _ = gen.events(6, 1, 500, 0)
    assert a.equals(b) and not a.equals(c)


def test_refuses_without_engine_sources(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "results", "__pycache__"))
    proc = _run("--trace", "0", cwd=tmp_path)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
