#!/usr/bin/env python
"""Per-query job-level profiler for the optimization rounds.

For each named query: runs it once warm (codegen + footer caches), then
measures a timed noop-sink run and reads the SQL executions it started
(plan_audit.ExecCursor) so every SQL execution inside the query function
— seed collects, Lloyd rounds, lineage cuts, fixpoint probes, the final
sink — is attributed its own wall clock. This is the guide-§1 "empirical
loop" for a workload whose heavy queries are multi-action composites:
the per-execution table says whether the wall is one slow stage (optimize
the stage) or twenty 150 ms actions (optimize the action count).

Usage: python profile_query.py q1 [q2 ...]
Writes a JSON report to /tmp/profile_<name>.json and prints a summary.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from data_pipelines_cu_spark.queries import all_queries  # noqa: E402
from data_pipelines_cu_spark.session import get_spark  # noqa: E402
from plan_audit import ExecCursor, exec_plan_census  # noqa: E402

import os  # noqa: E402


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def profile(spark, fn, sf_dir: str) -> dict:
    _noop(fn(spark, sf_dir))  # warm: codegen, parquet footers
    import gc

    gc.collect()
    cursor = ExecCursor(spark)
    t0 = time.perf_counter()
    _noop(fn(spark, sf_dir))
    wall = time.perf_counter() - t0
    execs = cursor.new_executions()
    rows = []
    for ex in execs:
        dur = ex.get("duration")
        census = exec_plan_census(ex.get("planDescription", "") or "")
        rows.append(
            {
                "id": ex.get("id"),
                "ms": dur,
                "desc": (ex.get("description") or "")[:90],
                "n_scans": census["n_scans"],
                "n_exchanges": census["n_exchanges"],
                "scans": census["scans"],
            }
        )
    return {
        "wall_sec": round(wall, 3),
        "n_executions": len(rows),
        "sum_exec_ms": sum(r["ms"] or 0 for r in rows),
        "executions": rows,
    }


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile", **{"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    queries["orders_by_region"].fn(spark, sf_dir).count()  # session warm
    for name in names:
        rep = profile(spark, queries[name].fn, sf_dir)
        Path(f"/tmp/profile_{name}.json").write_text(json.dumps(rep, indent=1))
        print(f"== {name}: wall {rep['wall_sec']}s, "
              f"{rep['n_executions']} executions, "
              f"sum {rep['sum_exec_ms']} ms")
        for r in rep["executions"]:
            print(f"   {r['ms'] or '?':>6} ms  scans={r['n_scans']} "
                  f"exch={r['n_exchanges']}  {r['desc'][:70]}")


if __name__ == "__main__":
    main()
