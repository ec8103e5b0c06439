"""End-to-end smoke of every workload at scale factor 0.001.

Each run is a fresh process started from the repository root, as the
benchmark is always run. The workloads' scale factor is lowered inside
that process only; everything else is the real command path.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from conftest import BENCH_DIR, REPO_ROOT

SMOKE = """
import sys
sys.path.insert(0, {bench!r})
import run, workloads
build = workloads.build
def small(name):
    wl = build(name)
    wl.sf = 0.001
    return wl
workloads.build = small
sys.exit(run.main(sys.argv[1:]))
"""


def _bench() -> dict:
    with open(os.path.join(REPO_ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(workload: str, trace: int, cwd: str = REPO_ROOT, env=None):
    cmd = [sys.executable, "-c", SMOKE.format(bench=BENCH_DIR), "--workload", workload,
           "--seed", "11", "--seconds", "1", "--trace", str(trace)]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600, env=env)


@pytest.mark.parametrize("workload", [w["name"] for w in _bench()["workloads"]])
def test_traced_smoke(workload):
    p = _run(workload, trace=1)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in _bench()["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    if workload == "etl_reference":
        assert result["metrics"]["python.total_ms"]["value"] == 0
    if workload == "stream_state":
        assert result["metrics"]["stream.state_commit_ms"]["value"] > 0
    assert not os.path.exists(os.path.join(REPO_ROOT, ".perfbench_tmp"))


def test_untraced_smoke_reports_end_to_end_metrics():
    p = _run("lakehouse_rw", trace=0)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    detail = json.loads(lines[-2])["detail"]
    assert {"cpus", "seed", "data_dir", "commit", "probe_q01_before_s",
            "probe_q01_after_s"} <= set(detail)
    result = json.loads(lines[-1])
    want = {m["name"]: m["unit"] for m in _bench()["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_refuses_stream_env_knobs():
    env = dict(os.environ, SPARK_GRAFT_STREAM_SINGLE_BATCH="1")
    p = _run("stream_state", trace=0, env=env)
    assert p.returncode != 0 and "refusing" in p.stderr


def test_fails_without_the_engine(tmp_path):
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", "etl_reference",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0 and p.stdout == ""
