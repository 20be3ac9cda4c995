"""Self-check of the benchmark on tiny inputs.

    python -m pytest perfbench/tests -q

Runs each workload once untraced and once traced at a tenth of the
benchmark's input size and checks the output contract: every end-to-end
metric printed with its unit, no failed operation, and every per-layer
metric present in the traced run.  Takes a few minutes (four Spark
sessions).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.run import WORKLOADS  # noqa: E402
from perfbench.workloads import END_TO_END, PER_LAYER  # noqa: E402


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--scale", "0.1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics(workload):
    out = _run(workload, 0)
    assert out["correct"] is True
    assert out["failed"] == 0 and out["attempted"] >= 100
    assert {k: v["unit"] for k, v in out["metrics"].items()} == END_TO_END
    assert all(v["value"] > 0 for v in out["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_reports_every_layer(workload):
    out = _run(workload, 1)
    assert out["correct"] is True and out["failed"] == 0
    assert {k: v["unit"] for k, v in out["metrics"].items()} == PER_LAYER
    metrics = {k: v["value"] for k, v in out["metrics"].items()}
    assert metrics["constraints.test_calls"] > 0
    assert metrics["spark.jobs"] > 0 and metrics["driver.py4j_calls"] > 0
    if workload == "within_suite":
        assert metrics["spark.jobs_per_scalar_op"] == 3
        assert metrics["streaming.batches"] > 0
    else:
        # at full size compare_s exceeds retrieve_s (the quadratic subset
        # test); a tenth of the keys is a hundredth of that work
        assert metrics["constraints.uniques_subset.retrieve_s"] > 0


def test_refuses_a_directory_without_the_program(tmp_path):
    (tmp_path / "perfbench").mkdir()
    for name in os.listdir(os.path.join(ROOT, "perfbench")):
        if name.endswith(".py"):
            with open(os.path.join(ROOT, "perfbench", name)) as src:
                (tmp_path / "perfbench" / name).write_text(src.read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
