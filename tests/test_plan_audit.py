"""plan_audit.py, the status reader of the root tools: reads that follow a
listener-bus drain and stage metrics read by Spark job group. The older
plan_audit tests (detectors 3-5, the /sql cursor, the forensics census
and the plan-string markers) still live in tests/test_round11-13_ops.py."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


def _load(name: str):
    spec = importlib.util.spec_from_file_location(name, REPO / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_capture_forensics_times_jobs_outside_sql(spark):
    """The max task time covers every job the run started, not only jobs
    inside a SQL execution: an RDD action with one 300 ms task has no
    execution and no plan, and still reports that task."""
    import time

    pa = _load("plan_audit")
    if not spark.sparkContext.uiWebUrl:
        pytest.skip("Spark UI disabled in this session")

    def slow_task(x):
        if x == 0:
            time.sleep(0.3)
        return x

    out = pa.capture_forensics(
        spark,
        lambda: spark.sparkContext.parallelize(range(4), 4)
        .map(slow_task)
        .count(),
    )
    assert out["n_executions"] == 0 and out["plan"] is None
    assert out["max_task_ms"] is not None and out["max_task_ms"] >= 300
    # the job group the capture set does not outlive it
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
