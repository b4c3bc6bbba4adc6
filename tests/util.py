"""Test helpers: DuckDB-oracle differential comparison, mirroring the
driver's row-count + schema + order-insensitive value comparison.

Type-faithful by design (round-2 verdict item 2): the driver's hasher sees
pandas values, where DuckDB HUGEINT arrives as float64 (``302.0``) while
Spark bigint arrives as int64 (``302``) — a divergence the old ``%.9g``
normalization masked. ``_norm`` therefore keeps the int/float distinction
and compares floats at full (shortest round-trip) precision, so an
int-vs-float or last-bit-float oracle divergence fails HERE before it fails
the gate.
"""

from __future__ import annotations

import math

import numpy as np


def _norm(v):
    if isinstance(v, (float, np.floating)):
        v = float(v)
        if math.isnan(v):
            return "NaN"
        # Distinguish float 302.0 from int 302 (HUGEINT-vs-BIGINT class)
        # and round-trip at full precision (driver hashes exact values).
        return f"f:{v!r}"
    if isinstance(v, (bool, np.bool_)):
        return f"b:{bool(v)}"
    if isinstance(v, (int, np.integer)):
        return f"i:{int(v)}"
    return str(v)


def rows_key(cols, rows):
    """Order-insensitive canonical form: sort columns by name, stringify."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = list(r)
        out.append(tuple(_norm(vals[i]) for i in order))
    return sorted(out)


def assert_matches_oracle(spark_df, duck, sql):
    sdf = spark_df.toPandas()
    ddf = duck.sql(sql).df()
    assert sorted(c.lower() for c in sdf.columns) == sorted(
        c.lower() for c in ddf.columns
    ), f"schema mismatch: spark={sorted(sdf.columns)} duck={sorted(ddf.columns)}"
    s_rows = rows_key(list(sdf.columns), sdf.itertuples(index=False, name=None))
    d_rows = rows_key(list(ddf.columns), ddf.itertuples(index=False, name=None))
    assert len(s_rows) == len(d_rows), (
        f"row count mismatch: spark={len(s_rows)} duck={len(d_rows)}"
    )
    mismatches = [
        (a, b) for a, b in zip(s_rows, d_rows) if a != b
    ]
    assert not mismatches, f"value mismatch (first 3): {mismatches[:3]}"


def group_jobs(spark, group: str) -> int:
    """Spark jobs run so far under job group ``group``, read from the
    status tracker after the listener bus has delivered every event (a
    streaming query tags its micro-batch jobs with its run id)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def jobs_of(spark, run) -> int:
    """Run ``run()`` under a fresh job group; return its Spark job count."""
    import uuid

    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc._jsc.clearJobGroup()
    return group_jobs(spark, group)
