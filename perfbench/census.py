"""Process-tree and Spark-status accounting for the benchmark.

- ``/proc`` readers: CPU seconds, peak RSS and write bytes of a process and
  its descendants. A child's CPU moves into its parent's ``cutime/cstime``
  when it is reaped, so summing ``utime+stime+cutime+cstime`` over the live
  tree counts live and reaped processes alike (psutil is not needed).
- ``spark_census``: one read of Spark's status REST API at the end of a run
  (after the listener bus has drained, so no polling), folded into per-group
  job/stage/task totals.
- ``box``: diagnostics of the machine the run happened on.
"""

from __future__ import annotations

import json
import os
import urllib.parse
import urllib.request
from collections import defaultdict

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float, float] | None:
    """(ppid, own cpu s, reaped-children cpu s) of ``pid``, or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2 :].split()
    ppid = int(fields[1])
    own = (int(fields[11]) + int(fields[12])) / CLK_TCK
    reaped = (int(fields[13]) + int(fields[14])) / CLK_TCK
    return ppid, own, reaped


def process_table() -> dict[int, tuple[int, float, float]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


def descendants(root: int, table: dict[int, tuple[int, float, float]]) -> list[int]:
    """``root`` and every live process below it."""
    children = defaultdict(list)
    for pid, (ppid, _, _) in table.items():
        children[ppid].append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            out.append(pid)
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int, table: dict | None = None) -> float:
    """CPU seconds used so far by ``root`` and all its descendants, live or
    reaped."""
    table = process_table() if table is None else table
    return sum(table[p][1] + table[p][2] for p in descendants(root, table))


def cpu_split(driver_pid: int, jvm_pid: int | None) -> dict[str, float]:
    """CPU seconds so far of the driver Python alone, the JVM alone, and the
    JVM's Python workers (everything below the JVM), plus the tree total."""
    table = process_table()
    out = {
        "total": tree_cpu_s(driver_pid, table),
        "driver": table[driver_pid][1] if driver_pid in table else 0.0,
        "jvm": 0.0,
        "pyworker": 0.0,
    }
    if jvm_pid is not None and jvm_pid in table:
        out["jvm"] = table[jvm_pid][1]
        out["pyworker"] = table[jvm_pid][2] + sum(
            table[p][1] + table[p][2]
            for p in descendants(jvm_pid, table)
            if p != jvm_pid
        )
    return out


def tree_write_bytes(root: int) -> int:
    """Bytes the live tree under ``root`` has caused to be written to
    storage (``write_bytes - cancelled_write_bytes`` of /proc/<pid>/io)."""
    total = 0
    for pid in descendants(root, process_table()):
        try:
            with open(f"/proc/{pid}/io") as f:
                io = dict(line.split(": ") for line in f.read().splitlines())
        except OSError:
            continue
        total += int(io["write_bytes"]) - int(io["cancelled_write_bytes"])
    return total


def peak_rss_mb(pids) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024.0


def dir_usage(root: str, since: float) -> tuple[int, int]:
    """(files modified at or after ``since``, bytes of all files) under
    ``root``."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            st = os.stat(os.path.join(dirpath, n))
            files += st.st_mtime >= since
            size += st.st_size
    return files, size


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def box(spark, ticks0: tuple[int, int]) -> dict[str, float]:
    """Box diagnostics, not gated: scheduler latency of trivial jobs (the
    repo bench's probe), 1-minute load average, CPU count, and the share of
    CPU time the hypervisor stole since ``ticks0`` was read."""
    from bench import sched_probe  # noqa: PLC0415

    steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
    return {
        "box.sched_probe_ms": sched_probe(spark)["sched_probe_ms"],
        "box.loadavg1": os.getloadavg()[0],
        "box.nproc": float(os.cpu_count() or 0),
        "box.steal_frac": steal / total if total else 0.0,
    }


def _get(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=60) as r:  # noqa: S310
        return json.load(r)


def spark_census(spark) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages, tasks and summed task metrics of every
    job the application ran, read once from the status REST API. Jobs
    without a group are filed under ``""``."""
    sc = spark.sparkContext
    # every event posted so far reaches the status store before we read it
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    port = urllib.parse.urlparse(sc.uiWebUrl).port
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
    jobs = _get(base, "/jobs")
    stages = _get(base, "/stages?withSummaries=true&quantiles=1.0")
    by_stage = {}
    for s in stages:
        if s.get("status") != "COMPLETE":
            continue
        dist = s.get("taskMetricsDistributions") or {}
        by_stage.setdefault(s["stageId"], []).append({
            "tasks": s.get("numCompleteTasks", 0),
            "task_s": s.get("executorRunTime", 0) / 1e3,
            "task_cpu_s": s.get("executorCpuTime", 0) / 1e9,
            "gc_s": s.get("jvmGcTime", 0) / 1e3,
            "input_bytes": s.get("inputBytes", 0),
            "shuffle_read_bytes": s.get("shuffleReadBytes", 0),
            "shuffle_write_bytes": s.get("shuffleWriteBytes", 0),
            "max_task_ms": max(dist.get("executorRunTime") or [0]),
        })
    out: dict[str, dict[str, float]] = {}
    seen: set[int] = set()
    for j in sorted(jobs, key=lambda j: j["jobId"]):  # the job that ran a stage claims it
        g = out.setdefault(j.get("jobGroup") or "", defaultdict(float))
        g["jobs"] += 1
        for sid in j.get("stageIds", []):
            if sid in seen:  # a later job lists the stages it reused as skipped
                continue
            seen.add(sid)
            for attempt in by_stage.get(sid, ()):
                g["stages"] += 1
                for k, v in attempt.items():
                    g[k] = max(g[k], v) if k == "max_task_ms" else g[k] + v
    return out
