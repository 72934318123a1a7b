"""Tests for bench.py's command-line contract, run as a subprocess."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent.parent / "bench.py"


@pytest.mark.parametrize("runs", ["0", "abc"])
def test_bench_rejects_bad_bench_runs_before_spark_starts(runs):
    """0 used to start Spark, run the warm-up and then fail on an empty
    median; "abc" failed in ``int()`` without naming the variable. Spark's
    start-up writes to stderr, so a stderr of one line means it never started."""
    env = {**os.environ, "BENCH_RUNS": runs}
    proc = subprocess.run([sys.executable, BENCH], env=env, capture_output=True, text=True, timeout=120)
    assert proc.returncode == 1
    assert proc.stderr == f"bench: BENCH_RUNS must be an int >= 1, got {runs!r}\n"
    assert proc.stdout == ""
