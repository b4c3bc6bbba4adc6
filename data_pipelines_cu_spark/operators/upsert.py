"""Idempotent partitioned sinks (SURVEY.md §2.1 K3/K4, §2.6 O5).

The reference's upsert is read-modify-write on CSVs: drop rows matching the
new key, concat, rewrite (lecture3/13_binance_calculate_hourly.py:79-85,
14:76-89, 15:184-194). At scale that becomes dynamic partition overwrite:
recomputing a partition replaces exactly that partition, touching nothing
else — the idempotent-recompute property Airflow catchup/backfill relies on
(SURVEY.md §2.9). ``partitionOverwriteMode=dynamic`` is pinned per-writer in
upsert_partitions (not only at session level): the driver contract hands this
engine vanilla SparkSessions, where the default is static overwrite — which
would wipe every partition, not just matching ones.

Hour-level upserts use an hour-partitioned layout (date + hour partition
columns) rather than row-level merge inside a day file — SURVEY §7.3 hard
part 4: prefer partition granularity over read-modify-write.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def upsert_partitions(
    df: DataFrame, path: str, partition_cols: Sequence[str], fmt: str = "parquet"
) -> None:
    """Delete-matching-then-insert at partition granularity (K4/O5):
    overwrite ONLY the partitions present in ``df`` (dynamic mode), leaving
    all other partitions untouched. Re-running the same computation is a
    no-op state-wise — the atomicity/idempotency lesson of
    lecture3/10_non_atomic_send.py made structural.

    Dynamic overwrite is pinned on the writer itself so the semantics hold
    on any session (a vanilla session defaults to static overwrite, which
    would delete ALL partitions)."""
    (
        df.write.format(fmt)
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .save(path)
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """CDC-style snapshot comparison: full-outer join on the key →
    ``change_type`` in {added, removed, changed} (unchanged rows are
    dropped). The declarative form of the reference's delete-matching-
    then-insert upsert inspection (lecture3/15_binance_backfill_last_month
    .py:184-194): at 100 TB both snapshots shuffle once on the key and
    compare columns never leave the executors.

    Output: key cols + per-compare-col old_/new_ pairs + change_type.
    """
    from pyspark.sql import functions as F

    o = old.select(
        *[F.col(k).alias(f"_ok_{k}") for k in key_cols],
        *[F.col(c).alias(f"old_{c}") for c in compare_cols],
    )
    n = new.select(
        *[F.col(k).alias(f"_nk_{k}") for k in key_cols],
        *[F.col(c).alias(f"new_{c}") for c in compare_cols],
    )
    cond = None
    for k in key_cols:
        eq = F.col(f"_ok_{k}") == F.col(f"_nk_{k}")
        cond = eq if cond is None else cond & eq
    j = o.join(n, cond, "full_outer")
    old_present = F.col(f"_ok_{key_cols[0]}").isNotNull()
    new_present = F.col(f"_nk_{key_cols[0]}").isNotNull()
    differs = None
    for c in compare_cols:
        ne = ~(F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}")))
        differs = ne if differs is None else differs | ne
    change = (
        F.when(~old_present, F.lit("added"))
        .when(~new_present, F.lit("removed"))
        .when(differs, F.lit("changed"))
    )
    keyed = j.select(
        *[
            F.coalesce(F.col(f"_nk_{k}"), F.col(f"_ok_{k}")).alias(k)
            for k in key_cols
        ],
        *[F.col(f"old_{c}") for c in compare_cols],
        *[F.col(f"new_{c}") for c in compare_cols],
        change.alias("change_type"),
    )
    return keyed.filter(F.col("change_type").isNotNull())


def compact_partitions(
    spark: SparkSession,
    path: str,
    partition_cols: Sequence[str],
    target_file_bytes: int = 128 * 1024 * 1024,
    fmt: str = "parquet",
) -> int:
    """Compact a partitioned table's small files: rewrite each partition
    into ceil(partition_bytes / target) files via a repartition on the
    partition key (+ a within-partition file counter).

    Streaming/minute-cadence sinks accrete one tiny file per trigger
    (the reference's per-minute CSV appends are the degenerate case);
    at 100 TB unbounded small files dominate scan planning time. The
    rewrite is idempotent — dynamic partition overwrite replaces each
    partition atomically. A flat directory's root data files are
    deleted once the partitioned rewrite has succeeded, so the table is
    not left on disk twice. Returns the number of files written.
    """
    import math
    import os

    from pyspark.sql import functions as F

    df = spark.read.format(fmt).load(path)
    # size on disk AND live-partition count from ONE driver-side walk
    # (metadata only — never data): a leaf directory holding at least one
    # data file IS a live partition (dynamic overwrite keeps live
    # partitions' files; a stale emptied dir has none), and NULL keys
    # land in __HIVE_DEFAULT_PARTITION__ dirs just like distinct() counts
    # them. The old df.select(partition_cols).distinct().count() was a
    # FULL TABLE PASS for the same integer (r14, guide §5: the sizing
    # decision is metadata work, the table can be 100 TB).
    total_bytes = 0
    part_dirs: set[str] = set()
    for root, _dirs, files in os.walk(path):
        data_files = [f for f in files if not f.startswith(("_", "."))]
        total_bytes += sum(
            os.path.getsize(os.path.join(root, f)) for f in data_files
        )
        if data_files and root != path:
            part_dirs.add(root)
    # a flat (not yet hive-style) directory has no `col=value` leaf dirs,
    # so the listing cannot see the partitions: count the distinct keys
    # instead (one pass), or each partition is sized as the whole table
    # and written with ~P-times too many files
    n_parts = len(part_dirs)
    prefix = f"{partition_cols[0]}=" if partition_cols else None
    if prefix and not any(
        os.path.relpath(d, path).startswith(prefix) for d in part_dirs
    ):
        n_parts = df.select(*partition_cols).distinct().count()
    n_parts = max(1, n_parts)  # floor guards an empty table
    per_part = total_bytes / max(n_parts, 1)
    files_per_part = max(1, math.ceil(per_part / target_file_bytes))
    # Shuffle on (partition cols + within-partition salt), not the partition
    # cols alone: hashing only the partition key sends every row of a
    # partition to ONE task, so a fat partition could never split into
    # files_per_part files. The salt is a stable row-hash bucket.
    salt = F.pmod(F.hash(*[F.col(c) for c in df.columns]), F.lit(files_per_part))
    # the rewrite lands in partition dirs only; root files are pre-rewrite
    root_files = [
        f
        for f in os.listdir(path)
        if not f.startswith(("_", "."))
        and os.path.isfile(os.path.join(path, f))
    ]
    (
        df.repartition(n_parts * files_per_part, *partition_cols, salt)
        .write.format(fmt)
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .save(path)
    )
    for f in root_files:
        os.remove(os.path.join(path, f))
        crc = os.path.join(path, f".{f}.crc")
        if os.path.exists(crc):
            os.remove(crc)
    out = 0
    for root, _dirs, files in os.walk(path):
        out += sum(1 for f in files if f.endswith(f".{fmt}") or f.endswith(".parquet"))
    return out


def write_range_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    n_files: int = 8,
    fmt: str = "parquet",
) -> None:
    """Range-clustered write: repartitionByRange + sortWithinPartitions on
    the cluster columns before writing, so each output file covers a
    narrow, mostly-disjoint value range. Parquet row-group min/max stats
    then let ANY later range/point filter on those columns skip whole
    files — the poor man's Z-ORDER, and the single highest-leverage
    layout decision for a 100 TB time-series table (cluster on event
    time: a one-day query reads ~1/365th of the files instead of all of
    them). Range partitioning samples the data to build balanced bounds,
    so skew in the cluster key doesn't produce fat files."""
    (
        df.repartitionByRange(n_files, *cluster_cols)
        .sortWithinPartitions(*cluster_cols)
        .write.format(fmt)
        .mode("overwrite")
        .save(path)
    )
