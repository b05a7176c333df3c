"""Tests of the benchmark itself, on tiny inputs.

    python -m pytest perfbench/tests -q

Each workload runs once untraced and once traced at 1% of its data size
for its shortest loop (``--seconds 0``). The tests check that every metric ``BENCHMARK.json``
names is printed with its unit, that no op failed its output check, and
that tracing launches no Spark job of its own: the traced run executes
exactly as many jobs as the untraced one, in set-up and in the loop.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
# every workload the harness runs, also those BENCHMARK.json does not list
NAMES = ("lookup", "ingest", "pipeline")


def run(cwd: str, out: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload]
    cmd += ["--seed", "7", "--seconds", "0", "--trace", str(trace)]
    cmd += ["--scale", "0.01", "--out", out]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.fixture(scope="module")
def records(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("records"))
    got = {}
    for name in NAMES:
        for trace in (0, 1):
            p = run(ROOT, out, name, trace)
            assert p.returncode == 0, p.stderr[-4000:]
            with open(os.path.join(out, f"{name}-seed7-trace{trace}.json")) as fh:
                got[name, trace] = (json.loads(p.stdout.strip().splitlines()[-1]), json.load(fh))
    return got


@pytest.mark.parametrize("workload", NAMES)
@pytest.mark.parametrize("trace,key", [(0, "end_to_end"), (1, "per_layer")])
def test_prints_every_metric_with_unit(records, workload, trace, key):
    result, _ = records[workload, trace]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    want = {m["name"]: m["unit"] for m in SPEC[key]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())


@pytest.mark.parametrize("workload", NAMES)
@pytest.mark.parametrize("trace", [0, 1])
def test_no_op_fails(records, workload, trace):
    result, record = records[workload, trace]
    assert result["attempted"] >= 1
    assert result["failed"] == 0, record["errors"]
    assert result["correct"] is True
    assert record["failed_frac"] == 0


@pytest.mark.parametrize("workload", NAMES)
def test_tracing_adds_no_spark_jobs(records, workload):
    _, plain = records[workload, 0]
    _, traced = records[workload, 1]
    assert traced["setup_jobs"] == plain["setup_jobs"]
    assert traced["loop"]["jobs"] == plain["loop"]["jobs"]
    ops = [s for s in traced["spans"] if s["parent"] is None]  # wrapped calls nest in ops
    assert sum(s["spark"]["jobs"] for s in ops) <= traced["setup_jobs"] + traced["loop"]["jobs"]


def test_every_listed_workload_is_tested():
    assert {w["name"] for w in SPEC["workloads"]} <= set(NAMES)


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the run exits non-zero
    and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "results", "__pycache__"))
    p = run(str(tmp_path), str(tmp_path / "out"), SPEC["workloads"][0]["name"], 0)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
