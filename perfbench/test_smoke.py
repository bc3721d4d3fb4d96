"""Smoke test of the benchmark itself: every workload at tiny size,
untraced and traced, must pass every correctness check and print every
metric BENCHMARK.json names, with its unit; and the runner must refuse
to run where the program is missing.

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider

Runs take about a minute each (most of it JVM start and the first
pass), one at a time.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(cwd, workload, trace, timeout=600):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_run_prints_every_metric(workload, trace):
    p = _run(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-4000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {m["name"]: m["unit"] for m in wanted}
    for name, v in res["metrics"].items():
        assert isinstance(v["value"], (int, float)) and v["value"] == v["value"], name
        if not trace:
            assert v["value"] > 0, name
    if trace and workload == "table_keyed":
        assert res["metrics"]["io.query_table.spark_jobs"]["value"] == 0


def test_refuses_without_program():
    bare = os.path.join(ROOT, ".perfbench_out", f"bare-{os.getpid()}")
    shutil.rmtree(bare, ignore_errors=True)
    try:
        for path in SPEC["paths"]:
            shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        p = _run(bare, SPEC["workloads"][0]["name"], 0, timeout=180)
        assert p.returncode != 0
        assert '"metrics"' not in p.stdout
    finally:
        shutil.rmtree(bare, ignore_errors=True)
