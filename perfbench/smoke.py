"""Smoke test for the benchmark itself, on the sf0.001 corpus.

    python3 -m pytest perfbench/smoke.py -q

The file name keeps it out of a plain ``pytest`` run of the repository,
because it starts four Spark sessions. Each invocation must end with the
result line, report every metric that BENCHMARK.json names for its trace
mode with that metric's unit, and count no failed operation. A traced and
an untraced run of one seed must build the same triples and get the same
query results. A copy of the benchmark without the engine must fail
without printing a result.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def bench(cwd, workload, trace, *extra):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), *extra],
        cwd=cwd, capture_output=True, text=True, timeout=300)


@pytest.fixture(scope="module",
                params=[w["name"] for w in SPEC["workloads"]])
def runs(request):
    """{trace: (result line, run record)} for one workload."""
    out = {}
    for trace in (0, 1):
        proc = bench(ROOT, request.param, trace, "--smoke")
        assert proc.returncode == 0, proc.stderr[-3000:]
        with open(os.path.join(ROOT, ".perfbench", "results",
                               f"{request.param}-seed1-trace{trace}.json")
                  ) as fh:
            record = json.load(fh)
        out[trace] = (json.loads(proc.stdout.strip().splitlines()[-1]),
                      record)
    return out


def test_every_metric_reported(runs):
    for trace, (result, _) in runs.items():
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] and result["failed"] == 0
        assert result["attempted"] >= 1
        spec = SPEC["per_layer" if trace else "end_to_end"]
        assert {m["name"]: m["unit"] for m in spec} == {
            k: v["unit"] for k, v in result["metrics"].items()}
        for k, v in result["metrics"].items():
            assert isinstance(v["value"], (int, float)), k


def test_modes_agree_on_outputs(runs):
    plain, traced = runs[0][1], runs[1][1]
    assert plain["builds"][0]["digest"] == traced["builds"][0]["digest"]
    assert plain["query_passes"][0]["digests"] == traced["query_digests"]


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = bench(tmp_path, SPEC["workloads"][0]["name"], 0)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
