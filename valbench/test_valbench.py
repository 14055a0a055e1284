"""Tests of the benchmark itself, at the smallest size.

    python3 -m pytest valbench -q

Each test starts the benchmark in a subprocess, the way the command in
BENCHMARK.json is run, from the root of the checkout.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
SMALL = ["--rows", "20000", "--seconds", "1"]


def _bench(*args: str, cwd: str = ROOT) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "valbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])["detail"]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["suite_full", "suite_resume_hotkey", "stream_ingest"])
def test_every_metric_is_printed_and_outputs_check(workload, trace):
    result, detail = _bench("--workload", workload, "--seed", "3", "--trace", str(trace), *SMALL)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, detail["problems"]
    assert result["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    units = {k: v["unit"] for k, v in result["metrics"].items()}
    assert units == {m["name"]: m["unit"] for m in spec}
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    assert detail["host"]["rows"] == 20000 and detail["host"]["calib_s"] > 0


def test_outputs_are_identical_at_one_and_four_cores():
    hashes = []
    for cores in ("1", "4"):
        result, detail = _bench("--workload", "suite_full", "--seed", "5", "--trace", "0",
                                "--cores", cores, *SMALL)
        assert result["correct"], detail["problems"]
        assert detail["host"]["cores"] == int(cores)
        hashes.append({k: detail["hashes"][k] for k in ("verdicts", "violations")})
    assert hashes[0] == hashes[1]


def test_runs_from_another_working_directory(tmp_path):
    # Spark's Python workers must find the package without the checkout
    # being the working directory
    result, detail = _bench("--workload", "stream_ingest", "--seed", "3", "--trace", "0",
                            *SMALL, cwd=str(tmp_path))
    assert result["correct"], detail["problems"]
    assert os.listdir(tmp_path) == []


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "valbench"), tmp_path / "valbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "valbench/run.py", "--workload", "suite_full", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    sys.path.insert(0, ROOT)
    from valbench.run import _tail

    assert _tail([3.0, 1.0, 2.0]) == (100.0, 3.0)
    pct, value = _tail([float(i) for i in range(40)])
    assert pct == 75.0 and value == 29.0  # 30..39 lie beyond it
