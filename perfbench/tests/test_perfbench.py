"""The benchmark's own checks: BENCHMARK.json matches what the harness
prints, inputs and op sequences are seed-determined, and a tiny smoke
run of each workload prints every metric name with its unit.

    python3 -m pytest perfbench/tests -q          # about 2 minutes
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import datagen, harness, workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]
ALL_WORKLOADS = list(workloads.WORKLOADS)


@pytest.fixture
def work_dir(request):
    """A scratch directory inside the benchmark's own work area."""
    d = os.path.join(ROOT, "perfbench", "_work", f"test-{os.getpid()}-{request.node.name}")
    os.makedirs(d, exist_ok=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _digest(d: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


def _sequence(workload: str, seed: int, tmp: str) -> list[str]:
    d = os.path.join(tmp, f"{workload}-{seed}")
    rng = datagen.generate(workload, seed, datagen.TINY, d)
    _, sequence = workloads.WORKLOADS[workload].schedule(rng, d, os.path.join(tmp, "out"))
    return sequence


def test_benchmark_json_matches_harness():
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == harness.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == harness.PER_LAYER_UNITS
    assert set(WORKLOADS) <= set(workloads.WORKLOADS)
    setup = next(m for m in BENCH["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in BENCH["end_to_end"])


@pytest.mark.parametrize("workload", ALL_WORKLOADS)
def test_same_seed_same_bytes(workload, work_dir):
    a, b = os.path.join(work_dir, "a"), os.path.join(work_dir, "b")
    datagen.generate(workload, 11, datagen.FULL, a)
    datagen.generate(workload, 11, datagen.FULL, b)
    assert _digest(a) == _digest(b)
    c = os.path.join(work_dir, "c")
    datagen.generate(workload, 12, datagen.FULL, c)
    assert _digest(a) != _digest(c)


@pytest.mark.parametrize("workload", ALL_WORKLOADS)
def test_seed_sets_op_sequence(workload, work_dir):
    first = _sequence(workload, 21, os.path.join(work_dir, "x"))
    assert first == _sequence(workload, 21, os.path.join(work_dir, "y"))
    assert first != _sequence(workload, 22, os.path.join(work_dir, "z"))


@pytest.mark.parametrize("workload", ALL_WORKLOADS)
def test_smoke_run_prints_every_metric(workload):
    """One tiny traced pass per workload: every per-layer metric is
    printed with its unit, the run's record holds every end-to-end
    metric, and every output matches its DuckDB twin."""
    p = subprocess.run(
        BENCH["command"] + ["--workload", workload, "--seed", "5", "--seconds", "1", "--trace", "1", "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    for m in BENCH["per_layer"]:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
        print(f"{workload} {m['name']} = {out['metrics'][m['name']]['value']} {m['unit']}")
    with open(os.path.join(ROOT, "perfbench", "_results", f"{workload}-s5-t1.json")) as f:
        record = json.load(f)
    for m in BENCH["end_to_end"]:
        assert record["end_to_end"][m["name"]] > 0
        print(f"{workload} {m['name']} = {record['end_to_end'][m['name']]} {m['unit']}")
