"""Harness self-test: every workload once at tiny scale, untraced and
traced, asserting that every metric is printed with its unit.

Run from the root of a checkout (takes a few minutes):

    python3 -m pytest e2ebench/test_selftest.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from e2ebench import layers, run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# each run gets its own process: the engine's module-level UDFs stay
# bound to the first JVM they were used with
TINY = """
import sys
from e2ebench import run, workloads
workloads.NEW_DOCS, workloads.WARM_JOBS, workloads.DROP_RATE = 5, 1, 10.0
sys.exit(run.main(sys.argv[1:]))
"""


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", run.WORKLOAD_NAMES)
def test_every_metric_printed_with_unit(workload, trace):
    args = ["--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace)]
    proc = subprocess.run(
        [sys.executable, "-c", TINY, *args], cwd=ROOT, capture_output=True, text=True, timeout=600
    )
    lines = proc.stdout.strip().splitlines()
    assert proc.returncode == 0 and lines, proc.stderr[-3000:]
    config, result = json.loads(lines[0])["e2ebench"], json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["attempted"] >= 1 and result["failed"] == 0
    for key in ("nproc", "master", "driver_mem", "pyspark", "seed", "trigger", "drop_rate_per_s"):
        assert key in config
    expected = layers.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == expected
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], float), name
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
