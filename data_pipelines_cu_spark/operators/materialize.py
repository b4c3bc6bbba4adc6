"""Engine-wide lineage-cut chokepoint.

Every library operator that materializes a compressed intermediate for
multiple consumers (the ARCHITECTURE §3 materialize-vs-recompute
doctrine) routes its cut through :func:`lineage_cut` instead of calling
``localCheckpoint`` directly, so ONE session conf decides the
fault-tolerance trade for the whole engine:

- default: ``localCheckpoint(eager=True)`` — executor block storage, no
  extra I/O; blocks are UNREPLICATED and die with their executor, and
  stay pinned until the parent DataFrame is driver-side GC'd. Right for
  single-JVM runs and clusters where task retry (not executor loss) is
  the failure mode — this engine's gate/bench shapes.
- ``spark.graft.reliableCuts=true``: ``checkpoint(eager=True)`` to the
  SparkContext checkpoint directory (the caller must have pointed
  ``spark.sparkContext.setCheckpointDir`` at durable storage — HDFS/S3
  on a real cluster). One extra write+read per cut, bought
  recoverability: an executor loss re-reads the checkpoint instead of
  killing every dependent job. The right trade for long-lived,
  multi-hour deployments composing several checkpointing operators —
  the ADVICE round-12 caveat, now a switch instead of a doc note.

Out of scope, deliberately: ``streaming/jobs.py`` micro-batch internals.
Reliable checkpoints accumulate one file set per cut per micro-batch
with no cleanup hook on a continuous stream — unbounded storage. Streams
release their per-batch frames with persist/try-finally-unpersist
instead (the round-12 single-action migration); their recovery story is
the stream checkpoint itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

RELIABLE_CUTS_CONF = "spark.graft.reliableCuts"


def lineage_cut(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` and truncate its lineage — locally by default,
    reliably (SparkContext checkpoint dir) when
    ``spark.graft.reliableCuts=true``. Used via ``.transform(lineage_cut)``
    so call chains read like the ``localCheckpoint`` they replace.

    Raises when reliable cuts are requested but no checkpoint directory
    is set: silently degrading to a local cut would hand back exactly
    the unrecoverable-on-executor-loss behavior the conf opted out of.
    """
    sess = df.sparkSession
    if sess.conf.get(RELIABLE_CUTS_CONF, "false").lower() == "true":
        if not sess.sparkContext._jsc.sc().getCheckpointDir().isDefined():
            raise ValueError(
                f"{RELIABLE_CUTS_CONF}=true but no checkpoint directory is "
                "set; call spark.sparkContext.setCheckpointDir(<durable "
                "path>) first — falling back to a local cut would silently "
                "reintroduce the executor-loss fragility this conf exists "
                "to remove"
            )
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
