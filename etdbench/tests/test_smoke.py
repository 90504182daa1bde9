"""Tiny-size run of every workload: each completes with nothing failed."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

RUN = os.path.join(os.path.dirname(os.path.dirname(__file__)), "run.py")


@pytest.mark.parametrize("workload", ["etl_pipeline", "analyst_read", "stream_resample"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke(workload, trace):
    proc = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "5",
         "--seconds", "0.1", "--days", "2", "--trace", str(trace)],
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["failed"] == 0 and result["correct"], proc.stdout
    assert result["attempted"] >= 1
    assert all(m["value"] >= 0 for m in result["metrics"].values())
