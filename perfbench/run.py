#!/usr/bin/env python3
"""Steady-state benchmark of the engine: time from input to complete result.

    python3 perfbench/run.py --workload queries|ingest \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. One run makes its inputs (a fixed
generated catalog, plus per-seed landed files for ``ingest``), boots Spark
on local[nproc], runs one untimed warm-up pass, times whole passes until
``--seconds`` have gone by and a fixed number of passes has run, checks the
program's output outside the timed passes, and reports medians.
``--trace 1`` tags every call into the package with a Spark job group,
takes one status census at the end and reports per-layer figures instead.
Everything the run writes stays under ``.perfbench_work/``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``;
the line before it holds the box diagnostics. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
WORKLOADS = ("queries", "ingest")

E2E_UNITS = {"setup_s": "s", "pass_s": "s", "pass_cpu_s": "s"}


class Ops:
    """Attempted and failed operations of a run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def fail(self, why: str, n: int = 1) -> None:
        self.failed += n
        self.problems.append(why)


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name and its unit, in report order."""
    import workloads  # noqa: PLC0415

    u = {
        "session.boot_s": "s", "session.peak_rss_mb": "MB",
        "catalog.resolve_s": "s",
        "queries.build_s": "s", "queries.eager_jobs": "count",
        "queries.sink_s": "s", "queries.sink_jobs": "count",
        "queries.relational_eager_jobs": "count",
    }
    for n in workloads.CURATION:
        u[f"q.{n}.build_s"] = "s"
        u[f"q.{n}.eager_jobs"] = "count"
    for n in workloads.RELATIONAL:
        u[f"q.{n}.sink_s"] = "s"
    u.update({
        "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
        "spark.max_task_ms": "ms", "spark.task_s": "s", "spark.task_cpu_s": "s",
        "spark.gc_s": "s", "spark.input_bytes": "B",
        "spark.shuffle_read_bytes": "B", "spark.shuffle_write_bytes": "B",
        "proc.driver_cpu_s": "s", "proc.jvm_cpu_s": "s", "proc.pyworker_cpu_s": "s",
        "ingest.backfill_s": "s", "ingest.cascade_s": "s", "ingest.wave_s": "s",
        "ingest.version_s": "s", "plans.overhead_s": "s",
        "ingest.files_written": "count", "ingest.bytes_stored": "B",
        "ingest.bytes_written": "B", "ingest.space_amp": "ratio",
        "failed_ops_frac": "ratio", "trace.overhead_frac": "ratio",
        "box.sched_probe_ms": "ms", "box.loadavg1": "load", "box.nproc": "count",
        "box.steal_frac": "ratio",
    })
    return u


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment() -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout."""
    for d in ("tmp", "spark-local", "warehouse"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    # sf 0.01 inputs need far less than the session's 8g default heap
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # every JVM, the spark-submit launcher included: no perf-data file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    sys.path[:0] = [str(ROOT), str(HERE)]


def _boot():
    from data_pipelines_cu_spark.session import get_spark  # noqa: PLC0415

    spark = get_spark(
        "perfbench",
        **{
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={WORK}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _jvm_proc():
    from pyspark import SparkContext  # noqa: PLC0415

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def _stop(spark, jvm) -> None:
    """Stop Spark and wait until the JVM and its Python workers are gone."""
    import census  # noqa: PLC0415
    from pyspark import SparkContext  # noqa: PLC0415

    children = [p for p in census.descendants(os.getpid(), census.process_table())
                if p != os.getpid()]
    spark.stop()
    if SparkContext._gateway is not None:
        SparkContext._gateway.shutdown()
    if jvm is not None:
        if jvm.stdin:
            jvm.stdin.close()  # the gateway server exits when its stdin closes
        try:
            jvm.wait(timeout=60)
        except Exception:  # noqa: BLE001
            jvm.kill()
            jvm.wait()
    deadline = time.monotonic() + 30
    for pid in children:
        while os.path.exists(f"/proc/{pid}") and _alive(pid):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    """True unless ``pid`` is gone or a zombie nobody will reap from here."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    if state == "Z":
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
        return False
    return True


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def layer_metrics(wl_name, passes, spans, cens, extra) -> dict[str, float]:
    """Fold traced passes, spans and the census into per-layer figures:
    per-pass sums, then the median over the traced passes."""
    import workloads  # noqa: PLC0415

    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    m = dict.fromkeys(per_layer_units(), 0.0)
    m.update(extra)

    def census(span, key="jobs"):
        return cens.get(span["group"], {}).get(key, 0.0)

    def per_pass(value, layer=None, names=None, fold=sum):
        """Median over traced passes of ``fold`` over the matching spans."""
        return _median([
            fold([value(s) for s in spans if s["pass"] == p["idx"]
                  and (layer is None or s["layer"] == layer)
                  and (names is None or s["name"] in names)] or [0.0])
            for p in traced
        ])

    def wall(s):
        return s["wall_s"]

    if wl_name == "queries":
        m["queries.build_s"] = per_pass(wall, "build")
        m["queries.eager_jobs"] = per_pass(census, "build")
        m["queries.sink_s"] = per_pass(wall, "sink")
        m["queries.sink_jobs"] = per_pass(census, "sink")
        m["queries.relational_eager_jobs"] = per_pass(census, "build", workloads.RELATIONAL)
        for n in workloads.CURATION:
            m[f"q.{n}.build_s"] = per_pass(wall, "build", (n,))
            m[f"q.{n}.eager_jobs"] = per_pass(census, "build", (n,))
        for n in workloads.RELATIONAL:
            m[f"q.{n}.sink_s"] = per_pass(wall, "sink", (n,))
    for key in ("jobs", "stages", "tasks", "task_s", "task_cpu_s", "gc_s",
                "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes"):
        m[f"spark.{key}"] = per_pass(lambda s, key=key: census(s, key))
    m["spark.max_task_ms"] = per_pass(lambda s: census(s, "max_task_ms"), fold=max)
    for part in ("driver", "jvm", "pyworker"):
        m[f"proc.{part}_cpu_s"] = _median([p["cpu"][part] for p in traced])
    if wl_name == "ingest":
        for stage in workloads.IngestWorkload.STAGES:
            m[f"ingest.{stage}_s"] = _median([p["stage_s"].get(stage, 0.0) for p in traced])
        m["plans.overhead_s"] = _median(
            [p["pipeline_s"] - sum(p["stage_s"].values()) for p in traced])
        m["ingest.bytes_written"] = _median([p["bytes_written"] for p in traced])
        # file and byte counts grow with the cycle, so they are read on the
        # first traced pass, which is always the same cycle
        first = traced[0]
        m["ingest.files_written"] = first["files_written"]
        m["ingest.bytes_stored"] = first["bytes_stored"]
        m["ingest.space_amp"] = first["bytes_stored"] / first["input_bytes"]
    m["trace.overhead_frac"] = (
        _median([p["wall_s"] for p in traced]) / _median([p["wall_s"] for p in untraced]) - 1.0
    )
    return m


def run(argv) -> int:
    a = _args(argv)
    if not (ROOT / "data_pipelines_cu_spark" / "__init__.py").is_file():
        print(f"perfbench: no data_pipelines_cu_spark package under {ROOT}", file=sys.stderr)
        return 2
    _environment()
    import census  # noqa: PLC0415
    import workloads  # noqa: PLC0415

    wl = workloads.make(a.workload, a.seed)
    t0 = time.perf_counter()
    wl.inputs(str(WORK))
    gen_s = time.perf_counter() - t0  # input generation is not set-up

    t0 = time.perf_counter()
    spark = _boot()
    boot_s = time.perf_counter() - t0
    jvm = _jvm_proc()
    jvm_pid = jvm.pid if jvm is not None else None
    me = os.getpid()
    ops = Ops()
    tr = workloads.Tracer(spark)
    try:
        t0 = time.perf_counter()
        wl.resolve(spark)
        resolve_s = time.perf_counter() - t0
        wl.warm_pass(spark, tr, ops)
        setup_s = time.perf_counter() - T_START - gen_s

        passes: list[dict] = []
        ticks0 = census.cpu_ticks()
        t_window = time.perf_counter()
        # whole passes, at least --seconds and a fixed count per workload. A
        # traced run alternates untraced and traced passes, starting and
        # ending untraced, so warm-up drift does not pass for trace overhead
        min_passes = max(wl.min_passes, 3) if a.trace else wl.min_passes
        while (len(passes) < min_passes or time.perf_counter() - t_window < a.seconds
               or (a.trace and len(passes) % 2 == 0)):
            k = len(passes)
            wl.prepare_pass()
            tr.traced, tr.pass_idx = bool(a.trace and k % 2 == 1), k
            rec = {"idx": k, "traced": tr.traced}
            if tr.traced:
                wb0, wall0 = census.tree_write_bytes(me), time.time()
            c0 = census.cpu_split(me, jvm_pid)
            t0 = time.perf_counter()
            rec.update(wl.timed_pass(spark, tr, ops))
            rec["wall_s"] = time.perf_counter() - t0
            c1 = census.cpu_split(me, jvm_pid)
            rec["cpu"] = {k2: c1[k2] - c0[k2] for k2 in c0}
            if tr.traced and a.workload == "ingest":
                rec["bytes_written"] = census.tree_write_bytes(me) - wb0
                rec["files_written"], rec["bytes_stored"] = census.dir_usage(wl.out, wall0)
                rec["input_bytes"] = wl.input_bytes()
            passes.append(rec)
        tr.traced = False

        wl.post_check(spark, ops)
        box = census.box(spark, ticks0)
        cens = census.spark_census(spark) if a.trace else {}
        rss = census.peak_rss_mb([me] + ([jvm_pid] if jvm_pid else []))
    finally:
        _stop(spark, jvm)

    if a.trace:
        extra = {
            "session.boot_s": boot_s, "session.peak_rss_mb": rss,
            "catalog.resolve_s": resolve_s if a.workload != "ingest" else 0.0,
            "failed_ops_frac": ops.failed / ops.attempted, **box,
        }
        metrics = layer_metrics(a.workload, passes, tr.spans, cens, extra)
        units = per_layer_units()
    else:
        metrics = {
            "setup_s": setup_s,
            "pass_s": _median([p["wall_s"] for p in passes]),
            "pass_cpu_s": _median([p["cpu"]["total"] for p in passes]),
        }
        units = E2E_UNITS
    workloads.dump(str(WORK / f"trace-{a.workload}-{a.seed}-{a.trace}.json"), {
        "workload": a.workload, "seed": a.seed, "gen_s": gen_s, "passes": passes,
        "spans": tr.spans, "census": cens, "metrics": metrics, "problems": ops.problems,
    })
    for why in ops.problems:
        print(f"perfbench: FAILED {why}", file=sys.stderr)
    print(json.dumps({"box": box, "passes": len(passes), "gen_s": round(gen_s, 3)}))
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(run(sys.argv[1:]))
