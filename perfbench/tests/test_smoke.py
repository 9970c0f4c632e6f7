"""Tiny-size runs of every workload through the command line, so a
harness break shows up in well under a minute per workload.

    python -m pytest perfbench/tests -q
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join("perfbench", "run.py")

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
E2E = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}


def _run(cwd: str, *args: str, timeout: int = 300) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, RUN, *args], cwd=cwd, capture_output=True, text=True, timeout=timeout
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1, res
    return res


@pytest.mark.parametrize("workload", ["rw_loop", "catalog_mix", "rebuild_read"])
def test_tiny_run_prints_every_end_to_end_metric(workload):
    res = _result(_run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
                       "--trace", "0", "--tiny"))
    assert {k: v["unit"] for k, v in res["metrics"].items()} == E2E
    assert all(v["value"] > 0 for v in res["metrics"].values()), res["metrics"]


def test_tiny_traced_run_prints_every_per_layer_metric():
    res = _result(_run(ROOT, "--workload", "rw_loop", "--seed", "3", "--seconds", "1",
                       "--trace", "1", "--tiny"))
    assert {k: v["unit"] for k, v in res["metrics"].items()} == PER_LAYER
    assert res["metrics"]["read.jobs"]["value"] > 0
    out = os.path.join(ROOT, ".perfbench_out")
    with open(os.path.join(out, "rw_loop-s3-t1.json")) as f:
        art = json.load(f)
    assert art["spans"] and art["layer_self_s"]["views"] > 0
    assert art["first_catch_up"]["catch_up.latest"]["jobs"] > 0
    if os.path.exists(os.path.join(out, "rw_loop-s3-t0.json")):
        assert set(art["trace_overhead"]) == set(E2E)


def test_exits_nonzero_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "--workload", "rw_loop", "--seed", "1", "--seconds", "1",
                "--trace", "0", timeout=60)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
