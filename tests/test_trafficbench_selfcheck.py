"""Tier-1 coverage of the traffic benchmark: its own machinery
(generator determinism, the tail rule and error counting, no Spark
session) and one untimed run of each workload, whose correctness checks
(DuckDB oracles, the live-row model after every verb, ``fsck`` at the
end) must all hold."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_trafficbench_selfcheck_passes():
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "trafficbench", "selfcheck.py")],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    assert [line.split()[0] for line in proc.stdout.splitlines()] == [
        "ok", "ok", "ok"]


@pytest.mark.parametrize("workload", ["ingest", "logs_table"])
def test_trafficbench_run_is_correct(workload):
    """``run.py --seconds 0`` still generates the inputs, builds the
    table and runs every checked round or cycle; each operation's check
    counts into the final line's ``correct``."""
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "trafficbench", "run.py"),
         "--workload", workload, "--seed", "1", "--seconds", "0",
         "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    tail = proc.stdout[-2000:] + proc.stderr[-4000:]
    assert proc.returncode == 0, tail
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] is True, tail
    assert result["failed"] == 0 and result["attempted"] > 0, result
