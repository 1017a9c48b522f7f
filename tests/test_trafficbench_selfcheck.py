"""Tier-1 coverage of the traffic benchmark's own machinery: generator
determinism, the tail rule and error counting (no Spark session)."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_trafficbench_selfcheck_passes():
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "trafficbench", "selfcheck.py")],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    assert [line.split()[0] for line in proc.stdout.splitlines()] == [
        "ok", "ok", "ok"]
