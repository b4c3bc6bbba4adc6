"""plan_audit.py, the status reader of the root tools: reads that follow a
listener-bus drain, stage metrics read by Spark job group, and the /sql
cursor's lean baseline read. The older plan_audit tests (detectors 3-5,
the other /sql cursor tests, which import ``_FakeSql`` from here, the
forensics census and the plan-string markers) still live in
tests/test_round11-13_ops.py."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path
from urllib.parse import parse_qs, urlsplit

import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


def _load(name: str):
    spec = importlib.util.spec_from_file_location(name, REPO / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class _FakeSql:
    """Scripted stand-in for plan_audit._ui on /sql: serves pages of a
    mutable listing, keeps each request's query parameters and counts
    full fetches (offset=0) separately."""

    def __init__(self, listing):
        self.listing = listing
        self.requests: list[dict] = []
        self.full_fetches = 0

    def __call__(self, spark, path: str):
        query = parse_qs(urlsplit(path).query)
        self.requests.append(query)
        offset, length = int(query["offset"][0]), int(query["length"][0])
        if offset == 0:
            self.full_fetches += 1
        return self.listing[offset : offset + length]


def _cursor_with(pa, fake):
    pa._ui = fake
    return pa.ExecCursor(None)


def test_exec_cursor_baseline_read_skips_plans():
    """The cursor's first listing only counts executions, so it asks for
    neither plans nor node graphs (85 executions with them were 2.16 MB
    of JSON); later reads still return full executions, each new id
    exactly once."""
    pa = _load("plan_audit")
    fake = _FakeSql([{"id": i} for i in range(150)])
    cur = _cursor_with(pa, fake)
    assert len(fake.requests) == 2  # two pages of 100
    for query in fake.requests:
        assert query["details"] == ["false"]
        assert query["planDescription"] == ["false"]
    fake.requests.clear()
    fake.listing += [{"id": 150}, {"id": 151}]
    assert [e["id"] for e in cur.new_executions()] == [150, 151]
    assert cur.new_executions() == []
    fake.listing.append({"id": 152})
    assert [e["id"] for e in cur.new_executions()] == [152]
    assert fake.requests
    assert not any("details" in q or "planDescription" in q for q in fake.requests)


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
