"""Tests of the benchmark's own code (no Spark session is started).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

import census  # noqa: E402
import fixtures  # noqa: E402
import run  # noqa: E402


def _files(root: Path) -> dict[str, bytes]:
    return {
        str(p.relative_to(root)): p.read_bytes()
        for p in sorted(root.rglob("*")) if p.is_file()
    }


def test_same_seed_lands_identical_ingest_inputs(tmp_path):
    cat = fixtures.write_catalog(str(tmp_path / "cat"), 0.001)
    docs = os.path.join(cat, "documents.parquet")
    fixtures.land_ingest(str(tmp_path / "a"), 7, docs, 3)
    fixtures.land_ingest(str(tmp_path / "b"), 7, docs, 3)
    fixtures.land_ingest(str(tmp_path / "c"), 8, docs, 3)
    a, b, c = (_files(tmp_path / d) for d in "abc")
    assert len(a) == 6  # three daily tick files, three document waves
    assert a == b
    assert a.keys() == c.keys()
    assert all(a[k] != c[k] for k in a if k.startswith("ticks"))
    assert any(a[k] != c[k] for k in a if k.startswith("waves"))


def test_ticks_carry_a_refetch_overlap():
    day = next(iter(fixtures.tick_csvs(3, 1).values())).decode().splitlines()[1:]
    close_times = [row.split(",")[2] for row in day]
    extra = len(close_times) - len(set(close_times))
    assert len(set(close_times)) == 1440
    assert 0.2 < extra / 1440 < 0.3


def _burn(seconds: float, then_sleep: float) -> subprocess.Popen:
    code = (
        "import time\n"
        f"t = time.process_time() + {seconds}\n"
        "while time.process_time() < t: pass\n"
        f"time.sleep({then_sleep})\n"
    )
    return subprocess.Popen([sys.executable, "-c", code])


def test_tree_cpu_counts_reaped_and_live_workers():
    """One child burns CPU and is reaped, its grandchild-free sibling burns
    CPU and stays alive: the tree total must include both."""
    me = os.getpid()
    before = census.tree_cpu_s(me)
    reaped = _burn(0.4, 0.0)
    live = _burn(0.4, 30.0)
    try:
        reaped.wait(timeout=30)
        deadline = time.monotonic() + 30
        while census._stat(live.pid)[1] < 0.4 and time.monotonic() < deadline:
            time.sleep(0.05)
        assert live.poll() is None
        used = census.tree_cpu_s(me) - before
        assert used >= 0.75, used
        split = census.cpu_split(me, live.pid)
        assert split["jvm"] >= 0.35  # the live child's own CPU
    finally:
        live.kill()
        live.wait(timeout=30)


def test_descendants_walks_the_whole_tree():
    table = {1: (0, 0.0, 0.0), 2: (1, 1.0, 0.5), 3: (2, 2.0, 0.0), 4: (9, 4.0, 0.0)}
    assert sorted(census.descendants(1, table)) == [1, 2, 3]
    assert census.tree_cpu_s(1, table) == 3.5


def _benchmark() -> dict:
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def test_printed_metric_names_match_benchmark_json():
    bench = _benchmark()
    assert run.E2E_UNITS == {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert run.per_layer_units() == {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)


def test_layer_metrics_emit_exactly_the_per_layer_names():
    """Fold a synthetic traced ingest pass: every per-layer name comes out,
    and nothing else."""
    passes = [
        {"idx": 0, "traced": False, "wall_s": 10.0, "cpu": {}},
        {"idx": 1, "traced": True, "wall_s": 11.0,
         "cpu": {"driver": 1.0, "jvm": 2.0, "pyworker": 3.0},
         "stage_s": {"backfill": 1.0, "cascade": 2.0, "wave": 3.0, "version": 0.5},
         "pipeline_s": 7.0, "bytes_written": 100, "files_written": 5,
         "bytes_stored": 400, "input_bytes": 200},
    ]
    spans = [{"pass": 1, "layer": "ingest", "name": "wave", "group": "g", "wall_s": 3.0}]
    cens = {"g": {"jobs": 4, "stages": 5, "tasks": 6, "max_task_ms": 7.0}}
    extra = {"session.boot_s": 1.0, "session.peak_rss_mb": 1.0,
             "catalog.resolve_s": 0.0, "failed_ops_frac": 0.0,
             "box.sched_probe_ms": 1.0, "box.loadavg1": 1.0, "box.nproc": 4.0,
             "box.steal_frac": 0.0}
    m = run.layer_metrics("ingest", passes, spans, cens, extra)
    assert set(m) == set(run.per_layer_units())
    assert m["spark.jobs"] == 4 and m["spark.max_task_ms"] == 7.0
    assert m["plans.overhead_s"] == 0.5
    assert m["ingest.space_amp"] == 2.0
    assert abs(m["trace.overhead_frac"] - 0.1) < 1e-12


def test_fails_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the run
    exits non-zero and prints no result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "queries", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert r.returncode != 0
    assert '"correct"' not in r.stdout
    assert sorted(os.listdir(tmp_path)) == ["BENCHMARK.json", "perfbench"]
