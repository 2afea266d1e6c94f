"""The benchmark's own tests: a planted fault must fail the correctness
gate, every workload's tiny smoke must print every metric BENCHMARK.json
names, and the benchmark must refuse to run without the program.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _cli(cwd, *args):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=600)


def test_planted_fault_fails_the_gate():
    from perfbench.run import run
    from perfbench.tests.faults import corrupt_one

    result = run("extract", seed=1, seconds=1, trace=False, size="tiny",
                 extract_fn=corrupt_one)["result"]
    assert result["failed"] > 0 and not result["correct"], result


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]] + ["ingest"])
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_smoke_emits_every_metric(workload, trace):
    if workload == "ingest" and trace:
        pytest.skip("one ingest smoke is enough for a hand-run workload")
    proc = _cli(ROOT, "--workload", workload, "--seed", "1", "--seconds", "1",
                "--trace", str(trace), "--size", "tiny")
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    wanted = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in wanted} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values()), result


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".cache", ".work", "results"))
    proc = _cli(tmp_path, "--workload", "extract", "--seed", "1",
                "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
