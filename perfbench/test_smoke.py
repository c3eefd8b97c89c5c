"""Smoke test of the benchmark: every workload once, untraced and
traced, with a one-second measuring window on the default inputs
(8 x 500 small images; a 500-row table), checking the printed report.

    python3 -m pytest perfbench/test_smoke.py -q    # from the repository root

Takes a few minutes: each run starts its own Spark session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_prints_every_metric_with_unit(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace)],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    names = run.PER_LAYER if trace else run.END_TO_END
    assert set(result["metrics"]) == set(names)
    for name, unit in names.items():
        m = result["metrics"][name]
        assert m["unit"] == unit and isinstance(m["value"], (int, float))
        # the human-readable table carries the same metric with its unit
        assert any(line.split()[:1] == [name] and line.split()[2] == unit for line in lines)
    error_rate = next(line for line in lines if line.startswith("error_rate"))
    assert float(error_rate.split()[1]) == 0.0


def test_fails_without_the_engine(tmp_path):
    """In a directory that holds only the benchmark, it exits non-zero
    and prints no result."""
    import shutil

    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("_work", "__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "profile_table", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert "correct" not in proc.stdout
