"""End-to-end checks of the benchmark command itself (start Spark; about
a minute each)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CHECKOUT = os.path.dirname(BENCH)


def _run(cwd: str, *extra: str) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", "backfill", "--seed", "3", "--seconds", "1", "--trace", "0"]
    return subprocess.run(cmd + list(extra), cwd=cwd, capture_output=True, text=True, timeout=170)


def _result(proc: subprocess.CompletedProcess) -> dict:
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_correct_run_passes_and_reports_every_metric():
    proc = _run(CHECKOUT)
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = _result(proc)
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 2
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        names = [m["name"] for m in json.load(f)["end_to_end"]]
    assert list(res["metrics"]) == names
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_corrupted_expected_state_fails_the_command():
    proc = _run(CHECKOUT, "--corrupt-expected")
    assert proc.returncode == 1, proc.stderr[-3000:]
    res = _result(proc)
    assert res["correct"] is False and res["failed"] == res["attempted"]


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(CHECKOUT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path))
    assert proc.returncode != 0
    assert not proc.stdout.strip()


@pytest.mark.parametrize("bad", [["--seconds", "0"], ["--workload", "nope"]])
def test_rejects_bad_arguments(bad):
    cmd = [sys.executable, "perfbench/run.py", "--workload", "backfill", "--seed", "1", "--seconds", "1"]
    proc = subprocess.run(cmd + bad, cwd=CHECKOUT, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0 and not proc.stdout.strip()
