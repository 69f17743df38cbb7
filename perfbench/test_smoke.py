"""Smoke tests of the benchmark command (tiny seeded inputs).

    python -m pytest perfbench/test_smoke.py -q

Each test starts one benchmark process with ``--smoke``; a run still pays
Spark's start and a cold index build (~45 s), and a traced run also drives
its untimed tail (~100 s in all).
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run(workload, seed, trace, cwd=ROOT):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "3", "--trace", str(trace),
         "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=300)
    return p


def result(p):
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True
    assert out["attempted"] >= 1 and out["failed"] == 0
    return out


def record(workload, seed, trace):
    with open(os.path.join(ROOT, ".perfbench_out",
                           f"{workload}-seed{seed}-trace{trace}.json")) as f:
        return json.load(f)


def assert_metrics(out, specs):
    assert set(out["metrics"]) == {m["name"] for m in specs}
    for m in specs:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_print_with_units(workload):
    out = result(run(workload, 1, 0))
    assert_metrics(out, SPEC["end_to_end"])
    assert all(out["metrics"][m["name"]]["value"] > 0
               for m in SPEC["end_to_end"])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_per_layer_metrics_print_with_units(workload):
    out = result(run(workload, 1, 1))
    assert_metrics(out, SPEC["per_layer"])
    rec = record(workload, 1, 1)
    # every second of the run sits in a named span
    assert rec["per_layer"]["trace.unattributed_s"] < 0.02 * rec["run_wall_s"]


def test_traced_counts_repeat_for_a_seed():
    first = (result(run(WORKLOADS[0], 3, 1)), record(WORKLOADS[0], 3, 1))
    second = (result(run(WORKLOADS[0], 3, 1)), record(WORKLOADS[0], 3, 1))
    a, b = first[1]["counts"], second[1]["counts"]
    n = min(len(a), len(b))
    assert n > 0 and a[:n] == b[:n]


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for d in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, d), tmp_path / d,
                        ignore=shutil.ignore_patterns("__pycache__"))
    p = run(WORKLOADS[0], 1, 0, cwd=tmp_path)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
