"""Structured Streaming jobs (SURVEY.md §2.9).

The reference's cadences map to streaming semantics:

- per-minute ingest DAG (lecture3/12:90) → file/rate source with
  ``trigger(processingTime=...)`` or ``availableNow`` for catch-up
- hourly agg DAG (13:47-50) → 1h tumbling event-time window + watermark
- daily rollup DAG (14) → the §7.3 cascade answer: stream level 1 into a
  sink, batch-rollup level 2 per trigger via ``foreachBatch`` (chained
  streaming aggregations would need update-mode intermediates)
- FileSensor on _SUCCESS (lecture5/07:80-87) → file-stream source picks up
  atomically-committed files; Spark writes _SUCCESS markers natively
- delete-and-replace upsert per hour (13:80-83) → watermark + update mode,
  late rows re-emit their bucket

Tests drive these with availableNow over temp dirs — the same code path a
1000-executor cluster runs against object storage.

Stream width. Every stream starts through ``_start_stream``, which starts
the query with ``spark.sql.shuffle.partitions`` = min(session value,
``defaultParallelism``). A stateful query fixes its state-partition count
when its checkpoint is created and records the width in the offset log;
Spark restores the recorded width on every restart, so only a fresh
checkpoint takes the narrowed width, it keeps it for the checkpoint's
life, and an existing checkpoint keeps whatever width it recorded.
Micro-batches run without AQE, so nothing coalesces a wide stateful stage
or a wide shuffle inside a ``foreachBatch`` body: every task reloads its
state-store partition and commits a delta file each batch, which on small
batches is all fixed cost. More partitions than cores cannot run at once,
so narrowing to the cores loses no parallelism now; a cluster that grows
later keeps the old width for that checkpoint (start a fresh checkpoint to
re-size). Results do not depend on the width. The conf is session-global:
the starter reads, narrows, starts and restores it in ``finally`` under
one module lock, so streams started from several threads never leave the
caller's session narrowed.
"""

from __future__ import annotations

import threading
from collections.abc import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from ..operators.aggregates import decimal_avg

_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
# Serialises the read / narrow / start / restore of the session-global
# shuffle width in _start_stream: unlocked, two streams started at once
# (a Pipeline with max_parallel > 1) can interleave so the second reads
# the first's narrowed value and restores THAT, leaving the caller's
# session narrowed.
_START_LOCK = threading.Lock()


def _start_stream(
    df: DataFrame,
    checkpoint: str,
    available_now: bool,
    process: Callable[[DataFrame, int], None] | None = None,
    sink: Callable[[DataStreamWriter], DataStreamWriter] | None = None,
) -> StreamingQuery:
    """Start every stream of this module: append mode, ``checkpoint``,
    ``availableNow`` when asked, and the micro-batch body ``process``
    (foreachBatch) or a built-in ``sink`` that configures the writer.

    The query starts with spark.sql.shuffle.partitions narrowed to
    min(session value, defaultParallelism) and the caller's value is
    restored before returning. start() clones the session for the stream
    before it returns, so the narrowing reaches only this query; see the
    module docstring for why and for how restarts keep their width."""
    spark = df.sparkSession
    writer = df.writeStream.outputMode("append").option(
        "checkpointLocation", checkpoint
    )
    writer = writer.foreachBatch(process) if process is not None else sink(writer)
    if available_now:
        writer = writer.trigger(availableNow=True)
    with _START_LOCK:
        prior = spark.conf.get(_SHUFFLE_PARTITIONS)
        width = min(int(prior), spark.sparkContext.defaultParallelism)
        spark.conf.set(_SHUFFLE_PARTITIONS, str(width))
        try:
            return writer.start()
        finally:
            spark.conf.set(_SHUFFLE_PARTITIONS, prior)


def _never_landed(exc: AnalysisException) -> bool:
    """True when the read failure means 'no data has ever landed here':
    the path does not exist (monitor never ran) or exists with no data
    files (every micro-batch was empty — dynamic overwrite of an empty
    frame creates the directory but no partitions). Classified by the
    exception's error condition, not message substrings — the condition
    names are the stable error-class contract, the message text is
    Spark-version-specific prose."""
    getter = getattr(exc, "getCondition", None) or exc.getErrorClass
    return getter() in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")


TICK_SCHEMA = T.StructType(
    [
        T.StructField("fetch_time", T.TimestampType(), True),
        T.StructField("price_float", T.DoubleType(), True),
    ]
)


def read_tick_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType = TICK_SCHEMA,
    max_files_per_trigger: int = 96,
) -> DataFrame:
    """File-arrival micro-batch source (the minute-ingest analog). New
    files under ``path`` are discovered per trigger; maxFilesPerTrigger
    bounds batch size for backpressure."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(path)
    )


def hourly_window_agg(
    ticks: DataFrame,
    ts_col: str = "fetch_time",
    value_col: str = "price_float",
    watermark: str = "2 hours",
) -> DataFrame:
    """1h tumbling event-time window with late-data tolerance — the
    streaming twin of aggregates.multi_stat_time_bucket. min_by/max_by give
    first/last by event time exactly as the batch path does."""
    ts, val = F.col(ts_col), F.col(value_col)
    return (
        ticks.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts, "1 hour").alias("w"))
        .agg(
            decimal_avg(val).alias("avg_price"),
            F.min(val).alias("min_price"),
            F.max(val).alias("max_price"),
            F.min_by(val, ts).alias("first_price"),
            F.max_by(val, ts).alias("last_price"),
            F.count(val).alias("data_points"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd").alias("date"),
            F.date_format("w.start", "HH").alias("hour"),
            "avg_price",
            "min_price",
            "max_price",
            "first_price",
            "last_price",
            "data_points",
        )
    )


def run_hourly_to_sink(
    ticks: DataFrame,
    sink_path: str,
    checkpoint: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Level-1 streaming agg → partitioned parquet sink (append on window
    close). availableNow processes the backlog then stops — the
    catchup=True analog."""
    agg = hourly_window_agg(ticks)
    return _start_stream(
        agg,
        checkpoint,
        available_now,
        sink=lambda w: w.format("parquet")
        .option("path", sink_path)
        .partitionBy("date"),
    )


EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
    ]
)

SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), True),
        T.StructField("session_start_us", T.LongType(), True),
        T.StructField("session_end_us", T.LongType(), True),
        T.StructField("n_events", T.LongType(), True),
    ]
)

# state = (session_start_us, session_end_us, n_events) for the one open
# session per user. Epoch-microsecond ints: Arrow-stable across the
# Python<->JVM state store boundary.
_SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType(), True),
        T.StructField("end_us", T.LongType(), True),
        T.StructField("n", T.LongType(), True),
    ]
)


def sessionize_stateful(
    events: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "30 minutes",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Custom stateful streaming operator: per-user sessionization with an
    inactivity gap, via ``applyInPandasWithState`` (the template for
    operators Spark's built-ins can't express — per-key state machines).

    Semantics match the batch ``session_window``/gaps-and-islands query: a
    session closes when no event arrives within ``gap_minutes`` of its last
    event (half-open merge rule: gap >= threshold starts a new session).
    Closed sessions emit either when a later in-stream event proves the gap,
    or when the event-time timeout fires (watermark passed end+gap).

    State is one tiny fixed-width row per ACTIVE user — at 100 TB/day this
    is bounded by key cardinality, not data volume, and the state store
    shards by key hash across executors.
    """
    import pandas as pd  # noqa: PLC0415 — executor-side import

    gap_us = gap_minutes * 60 * 1_000_000

    def fn(key, pdfs, state):
        (user_id,) = key
        closed: list[tuple[int, int, int, int]] = []
        if state.hasTimedOut:
            s, e, n = state.get
            closed.append((user_id, s, e, n))
            state.remove()
        else:
            ts_us: list[int] = []
            for pdf in pdfs:
                # pandas datetime64[ns] → epoch micros
                ts_us.extend(pdf[ts_col].astype("int64") // 1000)
            ts_us.sort()
            s = e = n = None
            if state.exists:
                s, e, n = state.get
            for t in ts_us:
                if s is None:
                    s, e, n = t, t, 1
                elif t - e >= gap_us:
                    closed.append((user_id, s, e, n))
                    s, e, n = t, t, 1
                else:
                    e, n = t, n + 1
            if s is not None:
                timeout_ms = e // 1000 + gap_us // 1000
                if timeout_ms <= state.getCurrentWatermarkMs():
                    # watermark already proves no event can extend it (e.g.
                    # this key's first batch arrived after a long idle gap)
                    closed.append((user_id, s, e, n))
                    if state.exists:
                        state.remove()
                else:
                    state.update((s, e, n))
                    # fire once the watermark proves no event can extend it
                    state.setTimeoutTimestamp(timeout_ms)
        yield pd.DataFrame(
            closed,
            columns=["user_id", "session_start_us", "session_end_us", "n_events"],
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def streaming_session_window(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Native session-window twin of ``sessionize_stateful`` — the preferred
    scale path when plain per-session aggregates suffice (JVM-side state,
    no Python round-trip). Append mode emits a session when the watermark
    passes its close."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("sw"), key_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.unix_micros(F.min(ts_col)).alias("session_start_us"),
            F.unix_micros(F.max(ts_col)).alias("session_end_us"),
        )
        .select(key_col, "session_start_us", "session_end_us", "n_events")
    )


def streaming_dedup(
    events: DataFrame,
    key_cols: list[str] | None = None,
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: first occurrence of each key wins; state for
    a key is dropped once the watermark passes (bounded state — the 100 TB
    requirement; unbounded dropDuplicates state would grow forever).
    Batch twin: dropDuplicates / windows.dedup_keep_last."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols or ["event_id"]
    )


def stream_stream_interval_join(
    events: DataFrame,
    within: str = "30 minutes",
    watermark: str = "1 hour",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Stream-stream interval self-join: each purchase matched to every
    click by the same user in the preceding ``within`` interval. Both
    sides carry watermarks + the time-bound join condition, so Spark can
    evict join state once the watermark passes click_ts + within —
    bounded state, the requirement for an unbounded 100 TB/day stream.
    Inner-join matches emit as they arrive (no watermark wait)."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col(key_col).alias("c_user"),
            F.col(ts_col).alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col(key_col).alias("p_user"),
            F.col(ts_col).alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {within}"))
    )
    return clicks.join(purchases, cond, "inner").select(
        F.col("c_user").alias("user_id"),
        F.unix_micros("click_ts").alias("click_us"),
        F.unix_micros("purchase_ts").alias("purchase_us"),
        "purchase_value",
    )


def stream_static_enrich(
    stream: DataFrame,
    dim: DataFrame,
    on: str = "user_id",
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against a
    static dimension snapshot (the streaming twin of J1's
    left-join-and-fill, Solutions/gold_war_etl_dag.py:148-150). The dim is
    broadcast, so the stream side never shuffles and no join state
    accrues — stream-static joins are stateless by construction, the
    right default for a 100 TB/day stream against a reference table.
    The static side is re-planned per micro-batch, so an updated dim
    parquet is picked up on the next trigger without restarting."""
    return stream.join(F.broadcast(dim), on, how)


def run_cascade(
    ticks: DataFrame,
    hourly_path: str,
    daily_path: str,
    checkpoint: str,
    available_now: bool = True,
) -> StreamingQuery:
    """The hourly→daily cascade via foreachBatch (§7.3 hard part 5):
    each micro-batch upserts hourly partitions, then recomputes the daily
    rollup for exactly the affected dates, reading back only their
    ``date=`` directories — streaming level 1, idempotent batch level 2,
    mirroring the reference's separate DAGs. A micro-batch that closed no
    window writes nothing."""
    from ..operators.aggregates import daily_rollup
    from ..operators.upsert import upsert_partitions

    agg = hourly_window_agg(ticks)

    def process(batch: DataFrame, batch_id: int) -> None:
        # two-action body (affected-date collect + hourly land): cache
        # around it so the micro-batch plan executes ONCE. persist/
        # unpersist, not localCheckpoint: a continuous stream must release
        # its blocks deterministically per batch, not when GC happens to
        # collect the checkpoint reference.
        batch = batch.persist()
        try:
            affected = [
                r.date for r in batch.select("date").distinct().collect()
            ]
            if not affected:  # no window closed: nothing to land or roll up
                return
            # Hour-granularity partitions: each closed window overwrites
            # only its own (date, hour) directory. Partitioning by date
            # alone would make every micro-batch replace the whole day
            # with just that batch's windows, deleting hours closed in
            # earlier batches.
            upsert_partitions(batch, hourly_path, ["date", "hour"])
            # read back only the affected days, typed by the batch's own
            # schema: no listing of the table's whole history, no schema
            # inference
            hourly = (
                batch.sparkSession.read.schema(batch.schema)
                .option("basePath", hourly_path)
                .parquet(*[f"{hourly_path}/date={d}" for d in affected])
            )
            upsert_partitions(daily_rollup(hourly), daily_path, ["date"])
        finally:
            batch.unpersist()

    return _start_stream(agg, checkpoint, available_now, process)


def near_dup_batch(
    batch: DataFrame, batch_id: int, survivors_path: str, index_path: str
) -> None:
    """One replay-idempotent micro-batch of the streaming near-dup filter
    (module-level so the crash/replay contract is directly testable —
    see run_streaming_near_dup for the full policy)."""
    from ..operators.dedup import incremental_near_dup
    from ..operators.upsert import upsert_partitions

    # multi-consumer body (the near-dup fold reads the batch, the
    # survivor join reads it again): cache around it so the micro-batch
    # plan executes ONCE — the old isEmpty() probe added yet another
    # upstream execution. persist/unpersist for the BATCH (deterministic
    # release on a continuous stream); surviving_bands keeps its
    # localCheckpoint because that cut is about lineage, not caching —
    # its write below replaces the very index partitions its plan reads.
    # An empty batch flows through as empty frames and lands nothing
    # (dynamic overwrite of an empty frame is a no-op).
    batch = batch.persist()
    try:
        spark = batch.sparkSession
        try:
            index = spark.read.parquet(index_path).filter(
                F.col("batch_id") != batch_id
            )
        except AnalysisException:  # first batch: no index path yet
            index = spark.createDataFrame(
                [], "doc_id long, band int, bhash string"
            )
        surviving_bands = incremental_near_dup(batch, index).localCheckpoint(
            eager=True
        )
        survivors = surviving_bands.select("doc_id").distinct()
        upsert_partitions(
            batch.join(survivors, "doc_id").withColumn(
                "batch_id", F.lit(batch_id)
            ),
            survivors_path,
            ["batch_id"],
        )
        upsert_partitions(
            surviving_bands.withColumn("batch_id", F.lit(batch_id)),
            index_path,
            ["batch_id"],
        )
    finally:
        batch.unpersist()


def run_streaming_near_dup(
    docs: DataFrame,
    survivors_path: str,
    index_path: str,
    checkpoint: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming near-duplicate filtering: each micro-batch of documents is
    LSH-filtered against the PERSISTED band index (every doc ever admitted)
    plus itself, survivors append to the corpus sink and their band rows
    append to the index — so a near-dup of anything admitted in ANY earlier
    batch (or earlier in this batch) is dropped forever.

    This is the streaming twin of operators.dedup.incremental_near_dup and
    the content-level analogue of streaming_dedup (exact event-id state):
    state lives in the index table (8 band rows × 32-byte hash per doc —
    bands of 2 signature rows over 16 minhashes), never in executor memory,
    so state size is index-table size and the watermark problem doesn't
    arise. foreachBatch because the filter needs a batch join against the
    index.

    Replay idempotency (the run_cascade level-2 pattern, made real here):
    both sinks are partitioned by ``batch_id`` and written with dynamic
    partition overwrite, so a replayed micro-batch replaces exactly its own
    partition instead of appending a second copy. Because a crash between
    the two writes can leave THIS batch's band rows already in the index,
    the replay filters its own batch_id out of the index before the dedup
    join — otherwise the batch's docs would collide with their own band
    rows and be dropped as duplicates of themselves.
    """
    def process(batch: DataFrame, batch_id: int) -> None:
        near_dup_batch(batch, batch_id, survivors_path, index_path)

    return _start_stream(docs, checkpoint, available_now, process)


def run_to_versioned_table(
    events: DataFrame,
    table_path: str,
    checkpoint: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Stream micro-batches into a snapshot-isolated versioned table with
    EXACTLY-ONCE commits: each batch becomes one immutable table version
    published by an atomic manifest rename, and the manifest's batch
    ledger makes replays (crash between data write and Spark's checkpoint
    commit) no-ops instead of duplicate versions. Readers always resolve
    one complete snapshot — the missing isolation level of a plain
    parquet append sink — and time travel reaches every batch boundary.
    """
    from ..operators.table import commit_batch

    def process(batch: DataFrame, batch_id: int) -> None:
        # the empty-batch skip is SEMANTIC here (an empty micro-batch must
        # not mint a table version), so the probe stays — but on a cached
        # frame, so the upstream plan executes once instead of once for
        # the probe and again for the commit write (persist/unpersist:
        # deterministic block release on a continuous stream)
        batch = batch.persist()
        try:
            if batch.isEmpty():
                return
            commit_batch(batch, table_path, batch_id)
        finally:
            batch.unpersist()

    return _start_stream(events, checkpoint, available_now, process)


def hist_sketch_batch(
    batch: DataFrame,
    batch_id: int,
    counts_path: str,
    lo: float,
    hi: float,
    n_bins: int = 64,
) -> None:
    """One replay-idempotent micro-batch of the streaming histogram
    sketch: the batch's (group, bin) counts land in their own batch_id
    partition via dynamic overwrite, so a replayed batch replaces exactly
    its own contribution (the near_dup_batch pattern)."""
    from ..operators.sketches import hist_counts
    from ..operators.upsert import upsert_partitions

    # single action per micro-batch: an empty batch writes an empty frame
    # (dynamic overwrite touches no partitions) instead of paying an
    # isEmpty() probe that executed the upstream plan a second time
    counts = hist_counts(batch, lo, hi, n_bins=n_bins).withColumn(
        "batch_id", F.lit(batch_id)
    )
    upsert_partitions(counts, counts_path, ["batch_id"])


def run_streaming_hist_sketch(
    events: DataFrame,
    counts_path: str,
    checkpoint: str,
    lo: float,
    hi: float,
    n_bins: int = 64,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming quantiles via the MERGEABLE histogram sketch: each
    micro-batch appends its (group, bin) counts partition; readers merge
    by bin-wise addition (sketches.hist_quantiles_from_counts), so the
    estimate over the stream-so-far equals the batch estimate over the
    same rows — bit-for-bit, because addition is the only merge op.

    Contrast with the exact-percentile path: exact quantiles need the
    full value multiset per group (unbounded state); the sketch's state
    is groups x n_bins longs however long the stream runs. Bounds are
    FIXED up front (calibration sample / domain knowledge) — the price of
    mergeability, stated rather than hidden.
    """

    def process(batch: DataFrame, batch_id: int) -> None:
        hist_sketch_batch(batch, batch_id, counts_path, lo, hi, n_bins)

    return _start_stream(events, checkpoint, available_now, process)


def kmv_sketch_batch(
    batch: DataFrame,
    batch_id: int,
    sketch_path: str,
    group_cols: list[str],
    value_col: str,
    k: int = 64,
) -> None:
    """One replay-idempotent micro-batch of the streaming KMV distinct
    sketch: the batch's per-group k-smallest-hash arrays land in their own
    batch_id partition (dynamic overwrite — replays replace, never
    double)."""
    from ..operators.sketches import kmv_sketch
    from ..operators.upsert import upsert_partitions

    # single action per micro-batch (empty frame + dynamic overwrite =
    # no-op; the isEmpty() probe was a second upstream execution)
    sk = kmv_sketch(batch, group_cols, value_col, k=k).withColumn(
        "batch_id", F.lit(batch_id)
    )
    upsert_partitions(sk, sketch_path, ["batch_id"])


def run_streaming_kmv(
    rows: DataFrame,
    sketch_path: str,
    checkpoint: str,
    group_cols: list[str],
    value_col: str,
    k: int = 64,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming distinct-count estimation via the MERGEABLE KMV sketch:
    each micro-batch persists its per-group k-smallest-hash arrays;
    readers kmv_merge the partitions (k smallest of the distinct union),
    which is EXACTLY the sketch one pass over the whole stream would have
    built — KMV's defining property, so the stream estimate equals the
    batch estimate bit-for-bit. State per group is k longs forever; exact
    streaming distinct counts would hold every key in state."""

    def process(batch: DataFrame, batch_id: int) -> None:
        kmv_sketch_batch(batch, batch_id, sketch_path, group_cols, value_col, k)

    return _start_stream(rows, checkpoint, available_now, process)


def daily_count_batch(
    batch: DataFrame, batch_id: int, counts_path: str, ts_col: str = "ts"
) -> None:
    """One replay-idempotent micro-batch of the streaming anomaly gate:
    the batch's (event_date, n) day counts land in their own batch_id
    partition via dynamic overwrite (the hist_sketch_batch pattern) — a
    replayed batch replaces exactly its own contribution."""
    from ..operators.upsert import upsert_partitions

    # single action per micro-batch (empty frame + dynamic overwrite =
    # no-op; the isEmpty() probe was a second upstream execution)
    daily = batch.groupBy(
        F.date_format(F.col(ts_col), "yyyy-MM-dd").alias("event_date")
    ).agg(F.count(F.lit(1)).alias("n"))
    upsert_partitions(
        daily.withColumn("batch_id", F.lit(batch_id)), counts_path, ["batch_id"]
    )


def run_streaming_daily_anomalies(
    events: DataFrame,
    counts_path: str,
    checkpoint: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming day-of-week anomaly gate via MERGEABLE day counts: each
    micro-batch appends its (event_date, n) partials; the reader
    (daily_anomalies_from_counts) merges by addition and applies the same
    exact-integer flag as the batch operator — counts are the only state,
    and counts add, so the stream-so-far report equals the batch report
    over the same rows bit-for-bit."""

    def process(batch: DataFrame, batch_id: int) -> None:
        daily_count_batch(batch, batch_id, counts_path)

    return _start_stream(events, checkpoint, available_now, process)


def run_streaming_cusum(
    events: DataFrame,
    counts_path: str,
    checkpoint: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming CUSUM changepoint monitor: the SAME mergeable day-count
    partials as the anomaly gate (daily_count_batch — per-batch
    (event_date, n) in a batch_id partition, dynamic overwrite makes
    replays no-ops), finished by cusum_from_counts through the exact
    code path the batch operator uses (cusum_from_daily), so the
    stream-so-far changepoint equals the batch changepoint over the same
    rows bit-for-bit."""

    def process(batch: DataFrame, batch_id: int) -> None:
        daily_count_batch(batch, batch_id, counts_path)

    return _start_stream(events, checkpoint, available_now, process)


def cusum_from_counts(spark, counts_path: str) -> DataFrame:
    """Merge the per-batch day-count partials by addition and run the
    shared CUSUM finish step."""
    from ..operators.aggregates import cusum_from_daily

    merged = (
        spark.read.parquet(counts_path)
        .groupBy("event_date")
        .agg(F.sum("n").alias("n"))
    )
    return cusum_from_daily(merged)


def daily_anomalies_from_counts(spark, counts_path: str, k: int = 2) -> DataFrame:
    """Merge the per-batch day-count partials (addition — the mergeable
    contract) and flag against the weekday baseline with the SAME shared
    code path as the batch operator."""
    from ..operators.aggregates import flag_daily_anomalies

    merged = (
        spark.read.parquet(counts_path)
        .groupBy("event_date")
        .agg(F.sum("n").alias("n_events"))
    )
    return flag_daily_anomalies(merged, k=k)


_DEBOUNCE_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("kept_ts_us", T.LongType()),
    ]
)
_DEBOUNCE_STATE_SCHEMA = T.StructType(
    [T.StructField("last_ts_us", T.LongType())]
)


def debounce_stateful(
    events: DataFrame,
    window_seconds: int = 10,
    ts_col: str = "ts",
    key_cols: tuple[str, ...] = ("user_id", "event_type"),
) -> DataFrame:
    """Cross-batch streaming debounce via ``applyInPandasWithState``:
    per (user, type), emit only events >= ``window_seconds`` after the
    previously SEEN event — the first of each burst — with the last-seen
    timestamp as the sole per-key state (one long; contrast with the
    sessionizer's (start, end, n) + event-time timeout — this is the
    minimal value-state pattern, no timeout needed because nothing emits
    on silence). State is bounded by key cardinality; for in-order
    streams the kept set equals the batch debounce_stats gate
    (batch-parity tested)."""
    import pandas as pd  # noqa: PLC0415 — executor-side import

    gap_us = window_seconds * 1_000_000

    def fn(key, pdfs, state):
        user_id, event_type = key
        last = state.get[0] if state.exists else None
        kept: list[tuple[int, str, int]] = []
        ts_us: list[int] = []
        for pdf in pdfs:
            ts_us.extend(pdf[ts_col].astype("int64") // 1000)
        ts_us.sort()
        for t in ts_us:
            if last is None or t - last >= gap_us:
                kept.append((user_id, event_type, t))
            last = t
        if last is not None:
            state.update((last,))
        yield pd.DataFrame(
            kept, columns=["user_id", "event_type", "kept_ts_us"]
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy(*key_cols).applyInPandasWithState(
        fn,
        outputStructType=_DEBOUNCE_OUT_SCHEMA,
        stateStructType=_DEBOUNCE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def priority_sample_batch(
    batch: DataFrame,
    batch_id: int,
    sample_path: str,
    weight_col: str,
    id_col: str,
    k: int = 100,
    salt: str = "pri",
) -> None:
    """One replay-idempotent micro-batch of the streaming priority
    sample: the batch's top-(k+1) priority prefix lands in its own
    batch_id partition (dynamic overwrite — replays replace, never
    double; the priorities are content-addressed, so a replay writes the
    identical prefix)."""
    from ..operators.sampling import priority_rows
    from ..operators.upsert import upsert_partitions
    from ..operators.windows import take_ordered

    # single action per micro-batch (empty frame + dynamic overwrite =
    # no-op; the isEmpty() probe was a second upstream execution)
    top = take_ordered(
        priority_rows(batch, weight_col, id_col, salt),
        [F.col("_q").desc(), id_col],
        k + 1,
    ).withColumn("batch_id", F.lit(batch_id))
    upsert_partitions(top, sample_path, ["batch_id"])


def run_streaming_priority_sample(
    rows: DataFrame,
    sample_path: str,
    checkpoint: str,
    weight_col: str = "n_chars",
    id_col: str = "doc_id",
    k: int = 100,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming weighted sampling via the MERGEABLE bottom-k priority
    sample (Duffield/Lund/Thorup): each micro-batch persists only its
    top-(k+1) priority prefix — k+1 rows of state per batch, never the
    stream. Because the top-(k+1) of a union equals the top-(k+1) over
    per-batch prefixes, the merged read (priority_sample_from_batches)
    equals the one-shot batch sample over the whole stream BIT-FOR-BIT —
    the same defining property the streaming KMV sketch leans on, for
    weighted sampling instead of distinct counting."""

    def process(batch: DataFrame, batch_id: int) -> None:
        priority_sample_batch(
            batch, batch_id, sample_path, weight_col, id_col, k
        )

    return _start_stream(rows, checkpoint, available_now, process)


def priority_sample_from_batches(
    spark, sample_path: str, id_col: str = "doc_id", k: int = 100
) -> DataFrame:
    """Merged read of the per-batch priority prefixes through the same
    finish step the one-shot operator uses.

    No dedup is needed — or wanted. Checkpoint REPLAYS cannot double rows
    because each batch's prefix lands in its own ``batch_id`` partition
    under dynamic overwrite (a replay REPLACES its partition, see
    priority_sample_batch). A document id that legitimately arrives in
    several micro-batches (duplicate events, not replays) is a real
    multiset member: the one-shot batch sample over the same union keeps
    every copy, and top-(k+1) of a multiset union equals top-(k+1) over
    per-batch prefixes, so the bit-for-bit equivalence holds WITH
    duplicates precisely because nothing collapses them (a global
    .distinct() here broke that for duplicate-id streams)."""
    from ..operators.sampling import priority_sample_finish

    pri = spark.read.parquet(sample_path).select(id_col, "weight", "_q")
    return priority_sample_finish(pri, id_col, k)


def psi_counts_batch(
    batch: DataFrame,
    batch_id: int,
    counts_path: str,
    edges_path: str,
    value_col: str = "value",
    n_bins: int = 10,
) -> None:
    """One replay-idempotent micro-batch of the streaming PSI monitor:
    bin the batch against the FROZEN reference edges and land the (bin,
    n) histogram in its batch_id partition (dynamic overwrite — replays
    replace, never double; counts merge by addition at read time)."""
    from ..operators.aggregates import psi_bin_counts
    from ..operators.upsert import upsert_partitions

    # single action per micro-batch (empty frame + dynamic overwrite =
    # no-op; the isEmpty() probe was a second upstream execution — and
    # the frozen edges read is metadata-sized, not worth gating)
    try:
        edges = batch.sparkSession.read.parquet(edges_path)
    except AnalysisException as exc:
        # startup ordering: the stream can fire an EMPTY first trigger
        # before the reference edges land — that must stay a no-op (the
        # old isEmpty guard's one legitimate job). A NON-empty batch with
        # no edges is a real configuration error and still raises.
        if _never_landed(exc) and batch.isEmpty():
            return
        raise
    counts = psi_bin_counts(batch, edges, value_col, n_bins).withColumn(
        "batch_id", F.lit(batch_id)
    )
    upsert_partitions(counts, counts_path, ["batch_id"])


def run_streaming_psi(
    rows: DataFrame,
    counts_path: str,
    edges_path: str,
    checkpoint: str,
    value_col: str = "value",
    n_bins: int = 10,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming drift monitoring via the mergeable PSI histogram: the
    reference decile edges are computed ONCE from a frozen reference
    dataset (operators/aggregates.py::psi_reference_edges, persisted at
    ``edges_path``); each micro-batch persists only its 10-bin histogram
    against those edges. Because bin counts merge by addition, the
    merged read (psi_report_from_batches) equals the one-shot batch PSI
    over the whole stream bit-for-bit — the drift monitor never rescans
    history and holds 10 longs of state per batch."""

    def process(batch: DataFrame, batch_id: int) -> None:
        psi_counts_batch(
            batch, batch_id, counts_path, edges_path, value_col, n_bins
        )

    return _start_stream(rows, checkpoint, available_now, process)


def psi_report_from_batches(
    spark,
    ref_counts_path: str,
    counts_path: str,
    n_bins: int = 10,
) -> DataFrame:
    """Merged read of the streaming PSI monitor: per-batch histograms sum
    into the current-window histogram, then the shared psi_from_counts
    formula produces the same report as the batch operator."""
    from ..operators.aggregates import psi_from_counts

    cur = (
        spark.read.parquet(counts_path)
        .groupBy("bin")
        .agg(F.sum("n").alias("n"))
    )
    ref = spark.read.parquet(ref_counts_path)
    return psi_from_counts(ref, cur, n_bins)


# --- Streaming sequence packing ------------------------------------------------

_PACK_STATE_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType(), False),
        T.StructField("acc", T.LongType(), False),
        T.StructField("seq_pos", T.IntegerType(), False),
    ]
)


def pack_stateful(
    docs: DataFrame,
    budget: int,
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    pos_col: str = "pos",
    shard_col: str = "shard",
    keep_token_col: bool = False,
) -> DataFrame:
    """Streaming twin of ``sampling.pack_sequences``: greedy contiguous
    context-window assembly over a document stream, keyed by shard, via
    ``applyInPandasWithState``. State per shard is the OPEN window —
    (next seq index, running token count, next in-window position),
    three scalars — so state is bounded by shard cardinality, not
    stream length. Rows are packed in ``pos`` order within each batch;
    for a stream delivered in per-shard ``pos`` order (the serving
    layout ``training_shard_order`` writes), the packed stream-so-far
    equals the batch ``pack_sequences`` on the same prefix bit-for-bit
    — the same prefix-parity contract as the streaming CUSUM twin.
    A window closes when NON-EMPTY (``seq_pos > 0``) and the next
    document would overflow; oversize documents close any open window
    and occupy one alone, exactly as in batch. Output columns carry the
    caller's names and the id column keeps its input type.
    ``keep_token_col=True`` appends the token column (same name/type) —
    the streaming mirror of the batch packer's flag: the tokens already
    ride through Arrow, so per-window consumers (the streaming manifest
    monitor) read them for free instead of re-joining the stream."""
    if budget < 1:
        raise ValueError(f"pack_stateful: budget must be >= 1, got {budget}")
    # mirror of the batch packer's reserved-name guard: a caller column
    # named seq/seq_pos/oversize (or two caller columns sharing a name)
    # would silently build a duplicate-field StructType
    reserved = {"seq", "seq_pos", "oversize"}
    caller = [id_col, pos_col, shard_col]
    if keep_token_col:
        caller = [*caller, token_col]  # token_col joins the output schema
    # name the parameters actually checked: with keep_token_col the
    # offending column can be token_col (e.g. token_col='seq'), and an
    # error that names only id_col/pos_col/shard_col points the caller
    # at the wrong knob
    param_names = "id_col/pos_col/shard_col" + (
        "/token_col" if keep_token_col else ""
    )
    clash = reserved & set(caller)
    if clash:
        raise ValueError(
            f"pack_stateful: {param_names} collide with output "
            f"columns {sorted(clash)} — rename the input column"
        )
    if len(set(caller)) != len(caller):
        raise ValueError(
            f"pack_stateful: {param_names} must be distinct, got {caller}"
        )
    import pandas as pd  # noqa: PLC0415 — executor-side import

    out_fields = [
        T.StructField(id_col, docs.schema[id_col].dataType, False),
        T.StructField(shard_col, docs.schema[shard_col].dataType, False),
        T.StructField(pos_col, T.LongType(), False),
        T.StructField("seq", T.LongType(), False),
        T.StructField("seq_pos", T.IntegerType(), False),
        T.StructField("oversize", T.BooleanType(), False),
    ]
    if keep_token_col:
        out_fields.append(
            T.StructField(token_col, docs.schema[token_col].dataType, False)
        )
    out_schema = T.StructType(out_fields)

    def fn(key, pdfs, state):
        (shard,) = key
        seq, acc, seq_pos = state.get if state.exists else (0, 0, 0)
        parts = list(pdfs)
        pdf = (
            pd.concat(parts, ignore_index=True)
            if len(parts) > 1
            else parts[0]
        )
        if pdf[token_col].isnull().any():
            bad = pdf.loc[pdf[token_col].isnull(), id_col].head(5).tolist()
            raise ValueError(f"pack_stateful: NULL {token_col} for ids {bad}")
        pdf = pdf.sort_values(pos_col)
        seqs, seq_positions, oversizes = [], [], []
        for tok in pdf[token_col].astype("int64"):
            over = tok > budget
            if seq_pos > 0 and (acc + tok > budget or over):
                seq += 1
                acc = 0
                seq_pos = 0
            seqs.append(int(seq))
            seq_positions.append(int(seq_pos))
            oversizes.append(bool(over))
            acc += int(tok)
            seq_pos += 1
            if over:
                seq += 1
                acc = 0
                seq_pos = 0
        state.update((int(seq), int(acc), int(seq_pos)))
        cols = {
            id_col: pdf[id_col],
            shard_col: pdf[shard_col],
            pos_col: pdf[pos_col].astype("int64"),
            "seq": pd.Series(seqs, index=pdf.index, dtype="int64"),
            "seq_pos": pd.Series(
                seq_positions, index=pdf.index, dtype="int32"
            ),
            "oversize": pd.Series(
                oversizes, index=pdf.index, dtype="bool"
            ),
        }
        if keep_token_col:
            cols[token_col] = pdf[token_col]
        yield pd.DataFrame(cols)

    from pyspark.sql.streaming.state import GroupStateTimeout  # noqa: PLC0415

    return docs.groupBy(shard_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=_PACK_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def pack_manifest_counts_batch(
    packed: DataFrame,
    batch_id: int,
    counts_path: str,
    token_col: str = "n_tokens",
    shard_col: str = "shard",
) -> None:
    """One replay-idempotent micro-batch of the streaming packing
    manifest: aggregate the batch's packed assignments to per-window
    partials (n_docs, window_tokens, has_oversize) and land them in the
    batch_id partition (dynamic overwrite — replays replace, never
    double). Partials MERGE by addition/boolean-max at read time, so a
    window that straddles micro-batches sums to exactly its one-shot
    row.

    Single action per micro-batch: an empty batch writes an empty frame
    (dynamic overwrite touches no existing partitions), which costs one
    no-op job instead of the ``isEmpty()`` probe that executed the
    stateful Arrow fold and the upstream plan TWICE per batch — the
    same eager-probe pattern the round-9 lane gate removed."""
    from ..operators.upsert import upsert_partitions

    partial = (
        packed.groupBy(shard_col, "seq")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col(token_col)).cast("long").alias("window_tokens"),
            F.max("oversize").alias("has_oversize"),
        )
        .withColumn("batch_id", F.lit(batch_id))
    )
    upsert_partitions(partial, counts_path, ["batch_id"])


def run_streaming_pack_manifest(
    docs: DataFrame,
    budget: int,
    counts_path: str,
    checkpoint: str,
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    pos_col: str = "pos",
    shard_col: str = "shard",
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming twin of ``sampling.pack_manifest``: the live
    padding-efficiency monitor a training-data service runs beside the
    packer. The stateful packer carries the token column through Arrow
    (``keep_token_col`` — never a stream join-back), each micro-batch
    lands only its (shard, seq) partials, and the merged read
    (:func:`pack_manifest_from_batches`) equals the one-shot batch
    manifest bit-for-bit because count/sum/bool-max partials are
    mergeable across the batch boundary an open window straddles. State
    and storage per batch are window-count sized, never corpus sized."""
    packed = pack_stateful(
        docs,
        budget,
        token_col=token_col,
        id_col=id_col,
        pos_col=pos_col,
        shard_col=shard_col,
        keep_token_col=True,
    )

    def process(batch: DataFrame, batch_id: int) -> None:
        pack_manifest_counts_batch(
            batch, batch_id, counts_path, token_col, shard_col
        )

    return _start_stream(packed, checkpoint, available_now, process)


def run_streaming_tv_drift(
    docs: DataFrame,
    counts_path: str,
    checkpoint: str,
    text_col: str = "text",
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming twin of ``text.source_tv_drift``: the live mixture-drift
    monitor a multi-source ingestion service runs. Each micro-batch
    lands its (source, token) count PARTIALS in a replay-idempotent
    batch_id partition — plain integer counts, mergeable by addition, so
    the merged read (:func:`tv_drift_from_batches`) reproduces the
    one-shot batch TV report bit-for-bit over the stream-so-far (the
    numerator is an exact integer sum either way; the single IEEE
    division happens once, at read time). State and storage are
    vocab x sources sized per batch, never corpus sized — the same
    mergeable-partial contract as the CUSUM/PSI/packing monitors."""
    from ..operators.text import source_token_counts
    from ..operators.upsert import upsert_partitions

    def process(batch: DataFrame, batch_id: int) -> None:
        partial = source_token_counts(batch, text_col).withColumn(
            "batch_id", F.lit(batch_id)
        )
        upsert_partitions(partial, counts_path, ["batch_id"])

    return _start_stream(docs, checkpoint, available_now, process)


def tv_drift_from_batches(spark, counts_path: str) -> DataFrame:
    """Merged read of the streaming TV monitor: per-batch partials sum
    per (source, token) — exactly the one-shot count table — then the
    SAME four-consumer tail as the batch operator runs over the summed
    (and checkpointed: the tail compiles per consumer otherwise) table.
    A monitor that never landed (no path, or every batch empty) reports
    an empty drift table, mirroring pack_manifest_from_batches."""
    from ..operators.text import tv_drift_from_counts

    try:
        counts = spark.read.parquet(counts_path)
    except AnalysisException as exc:
        if _never_landed(exc):
            return spark.createDataFrame(
                [], "source string, n_tokens long, tv_vs_corpus double"
            )
        raise
    st = (
        counts.groupBy("source", "_w")
        .agg(F.sum("c_st").alias("c_st"))
        .localCheckpoint(eager=True)
    )
    return tv_drift_from_counts(st)


def run_streaming_ivf_upsert(
    vectors: DataFrame,
    index_path: str,
    centroids: list,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    available_now: bool = True,
    drift_monitor_path: str | None = None,
    drift_baseline: dict | None = None,
    report_every: int = 1,
    bounds: tuple | None = None,
    codebooks: list | None = None,
) -> StreamingQuery:
    """Live ingest half of the ANN index lifecycle: embedding vectors
    arrive as a stream and land in the persisted IVF index as one
    upsert wave per micro-batch, assigned under the FROZEN centroid
    artifact (similarity.upsert_ivf_index). ``wave = batch_id + 1``
    (wave 0 is the build's namespace), so a replayed micro-batch
    rewrites exactly its own (cell, wave) partitions — the checkpoint
    replay contract comes free from the wave design. Queries against
    the index (query_ivf_index) see each wave as soon as its batch
    commits; compaction (compact_ivf_index) runs offline on the
    operator's cadence, exactly as in batch.

    Wave numbering is ``base_wave + batch_id + 1`` where ``base_wave``
    is pinned ONCE per checkpoint lifetime: on first start it is read
    from the index (max existing wave, one cheap aggregate) and
    persisted as a sidecar in the checkpoint directory, so (a) replays
    within a checkpoint reuse their original wave — the idempotency
    contract — and (b) restarting with a FRESH checkpoint against an
    existing index starts past every landed wave instead of silently
    dynamic-overwriting earlier waves' (cell, wave) partitions (batch
    ids restart at 0 with a new checkpoint; before this pin that
    deleted prior ingests in the touched cells with no error). A
    pre-round-11 index written without the wave partition level cannot
    take wave upserts at all (mixed partition layouts in one path are
    unreadable) and is rejected loudly.

    SINGLE WRITER per index, enforced by protocol not by lock: two
    streams started with fresh checkpoints against the same index read
    the same max(wave), pin the same base_wave, and dynamic-overwrite
    each other's (cell, wave) partitions — same class of corruption as
    compacting under a live ingest. Run one ingest stream per index
    path; scale ingest by widening the stream's partitions, not by
    adding streams (the quiesce protocol in compact_ivf_index applies
    to writers too: stop, compact, fresh checkpoint).

    CONTINUOUS DRIFT MONITORING (``drift_monitor_path``): after every
    ``report_every``-th wave lands, the full drift report
    (similarity.ivf_drift_report — one linear pass over the index) plus
    the mechanical rebuild decision against the frozen
    ``drift_baseline`` land as one row in the batch_id partition —
    replay-idempotent like the waves themselves. The operator watches
    the newest row's ``rebuild`` flag and, when it fires, runs the
    quiesce protocol (stop → retrain_ivf_centroids → fresh checkpoint +
    new artifact + NEW baseline). The report pass costs one index read
    per monitored batch — set ``report_every`` to the ingest-to-review
    cadence, not 1, on a high-frequency stream. The decision runs on
    the driver over a 1-row collect (the report is a single row by
    construction).

    CODEC (write side, as run_streaming_ann_query on the read side):
    one index read at stream start resolves the tree's codec through
    similarity's one codec rule (``_index_codec``) — an SQ8 tree lands
    code waves under the frozen ``bounds``, a PQ tree under the frozen
    ``codebooks``, a float tree float waves; the drift monitor reports
    over the same codec view. Every tree/artifact mismatch the rule
    refuses fails before the stream starts. A missing index is created
    by the first wave in the codec the passed artifacts imply."""
    import json as _json
    from pathlib import Path
    from urllib.parse import urlparse

    from ..operators.similarity import _open_for_write, _write_index

    cent_rows = sorted(centroids)
    spark = vectors.sparkSession
    # the sidecar must share the CHECKPOINT's lifetime exactly: resolve
    # file:-URI checkpoints to their local path, and reject non-local
    # schemes loudly — Path("hdfs://...")/"..." would silently become a
    # cwd-relative local file that a restarted driver never finds, and a
    # missing sidecar re-pins base_wave from the live index, which is
    # the wave-clobber corruption the sidecar exists to prevent
    parsed = urlparse(checkpoint)
    if parsed.scheme not in ("", "file"):
        raise ValueError(
            f"run_streaming_ivf_upsert: checkpoint {checkpoint!r} is not "
            "a local filesystem location; the wave-base sidecar must live "
            "inside the checkpoint directory (same lifetime), so pass a "
            "local path / file: URI or extend the sidecar to the remote "
            "filesystem before using this scheme"
        )
    ckpt_dir = Path(parsed.path if parsed.scheme else checkpoint)
    base_file = ckpt_dir / "ivf_wave_base.json"
    # one index read at stream start serves the codec, the wave-layout
    # check and (when the sidecar is missing) the wave-base pin — never
    # per batch
    idx, codec = _open_for_write(
        spark, index_path, "run_streaming_ivf_upsert", bounds, codebooks
    )
    if base_file.exists():
        try:
            base_wave = int(_json.loads(base_file.read_text())["base_wave"])
        except (ValueError, KeyError, TypeError) as exc:
            # TypeError included: valid JSON of the wrong SHAPE — a null
            # base_wave (int(None)), a list document (["base_wave"] is a
            # list index) — is foreign damage too and deserves the same
            # actionable refusal, not a raw int()-argument traceback
            # the sidecar is written atomically (tmp + os.replace below),
            # so a corrupt file is not a crash artifact — it is foreign
            # damage. Re-pinning from the live index here would be the
            # wave-clobber corruption the sidecar prevents; die loudly
            # and let the operator decide (restore the value, or start a
            # FRESH checkpoint after quiescing, which re-pins safely).
            raise ValueError(
                f"run_streaming_ivf_upsert: wave-base sidecar {base_file} "
                "is unreadable; refusing to guess base_wave (a wrong pin "
                "silently overwrites earlier waves). Restore it or start "
                "a fresh checkpoint."
            ) from exc
    else:
        if idx is None:  # no index yet: build namespace is wave 0
            base_wave = 0
        else:
            base_wave = int(idx.agg(F.max("wave")).first()[0] or 0)
        base_file.parent.mkdir(parents=True, exist_ok=True)
        # atomic publish: a crash between open and write must not leave a
        # truncated sidecar (the restart would die on it — see the guard
        # above — rather than resume). tmp-in-same-dir + os.replace is
        # atomic on POSIX; the checkpoint dir is local by the scheme
        # guard, so replace semantics hold.
        import os as _os  # noqa: PLC0415

        tmp = base_file.with_suffix(".json.tmp")
        tmp.write_text(_json.dumps({"base_wave": base_wave}))
        _os.replace(tmp, base_file)

    def process(batch: DataFrame, batch_id: int) -> None:
        # codec and layout were resolved once above for the checkpoint's
        # lifetime: the wave writer lists the index zero times per batch
        _write_index(
            batch, index_path, cent_rows, codec, base_wave + batch_id + 1,
            id_col, vec_col,
        )
        if drift_monitor_path and (batch_id + 1) % max(1, report_every) == 0:
            from ..operators.similarity import (  # noqa: PLC0415
                ivf_drift_report,
                should_rebuild_centroids,
            )
            from ..operators.upsert import upsert_partitions  # noqa: PLC0415

            spark_b = batch.sparkSession
            report = ivf_drift_report(
                spark_b, index_path, cent_rows, id_col=id_col,
                vec_col=vec_col, bounds=bounds, codebooks=codebooks,
            ).first()
            decision = should_rebuild_centroids(
                report.asDict(), drift_baseline
            )
            row = spark_b.createDataFrame(
                [
                    (
                        *report,
                        bool(decision["rebuild"]),
                        "; ".join(decision["reasons"]),
                        batch_id,
                    )
                ],
                # explicit schema: an all-NULL report row (index still
                # empty — e.g. every wave so far was NULL-vector-only)
                # breaks type inference but must still land a row
                "n_vectors long, n_occupied_cells long, "
                "occupancy_skew double, mean_distortion double, "
                "max_distortion double, upsert_frac double, "
                "rebuild boolean, reasons string, batch_id long",
            )
            upsert_partitions(row, drift_monitor_path, ["batch_id"])

    return _start_stream(vectors, checkpoint, available_now, process)


def run_streaming_ann_query(
    queries: DataFrame,
    index_path: str,
    centroids: list,
    results_path: str,
    checkpoint: str,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "query_id",
    vec_col: str = "embedding",
    available_now: bool = True,
    bounds: tuple | None = None,
    codebooks: list | None = None,
) -> StreamingQuery:
    """Online ANN serving — the READ side of the index lifecycle: query
    vectors arrive as a stream and each micro-batch is answered against
    the persisted IVF index (similarity.query_ivf_index: probe-cell
    partition pruning, newest-wave-per-id within probed cells), landing
    its top-k results in the batch_id partition via dynamic overwrite.
    Replays are idempotent twice over: the partition replaces itself,
    and the results are content-addressed (pure function of query
    vectors x index state — a replayed batch against an unchanged index
    writes byte-identical rows). Each batch reads the index AS OF its
    start, so results reflect every ingest wave committed before it —
    the serving consistency a grow-while-serving index offers (see
    upsert_ivf_index for the cross-cell staleness contract, and
    compact_ivf_index for the quiesce-before-compact rule).

    The batch is persisted once up front: the probe-cell collect and
    the scoring join are genuinely two consumers of the query set (the
    single-action discipline — the upstream plan never compiles
    twice).

    Fails FAST at start when the index path is missing/empty: without
    the check the first micro-batch dies inside foreachBatch and the
    error surfaces as an opaque StreamingQueryException after the
    stream has already committed a checkpoint dir. A legacy cell-only
    index serves fine (query_ivf_index treats it as all build rows) —
    only WRITES are barred from the pre-wave layout.

    CODEC: the index schema read at start goes through similarity's
    one codec rule (``_index_codec``), so a quantized index without its
    frozen artifact (``bounds`` for SQ8, ``codebooks`` for PQ), a float
    index given one, or the other codec's artifact passed too fails fast
    with the artifact named; each micro-batch passes the artifact to
    query_ivf_index, which reads the codec from the tree — so the
    serving job is unchanged when the operator swaps the index codec."""
    from ..operators.similarity import _index_codec, _read_index, query_ivf_index
    from ..operators.upsert import upsert_partitions

    op = "run_streaming_ann_query"
    tree = _read_index(queries.sparkSession, index_path, op)
    _index_codec(tree.columns, index_path, op, bounds, codebooks)
    cent_rows = sorted(centroids)

    def process(batch: DataFrame, batch_id: int) -> None:
        # cache, not localCheckpoint: the probe collect and the scoring
        # join both read the batch (execute-once), and unpersist releases
        # the blocks deterministically per batch on a continuous stream
        batch = batch.persist()
        try:
            # alias BOTH columns to query_ivf_index's defaults, which it
            # is called with: a caller's non-default vec_col must be
            # renamed here or the first micro-batch dies on an unresolved
            # column AFTER the checkpoint dir is committed
            res = query_ivf_index(
                batch.sparkSession,
                index_path,
                cent_rows,
                batch.select(
                    F.col(id_col).alias("vec_id"),
                    F.col(vec_col).alias("embedding"),
                ),
                k=k,
                n_probe=n_probe,
                bounds=bounds,
                codebooks=codebooks,
            )
            upsert_partitions(
                res.withColumn("batch_id", F.lit(batch_id)),
                results_path,
                ["batch_id"],
            )
        finally:
            batch.unpersist()

    return _start_stream(queries, checkpoint, available_now, process)


def run_streaming_bpe_encode(
    docs: DataFrame,
    merges: DataFrame,
    out_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming encode over a FROZEN tokenizer artifact — the serving
    half of train-once → encode-many: documents arrive as a stream, the
    merge table is a committed versioned-table snapshot
    (text.bpe_load_merges), and every micro-batch encodes with exactly
    those merges. The artifact is collected ONCE here (merge-budget
    sized) and the frozen list rides the foreachBatch closure — never a
    per-batch re-collect, never a retrain.

    Encoding is document-local (merges never span word boundaries and
    each doc's stats are sums over its own words), so micro-batch
    boundaries cannot change any row — batch parity needs no state
    store. Each batch lands in its batch_id partition via dynamic
    overwrite (replays replace, never double — the same idempotency
    contract as the packing-manifest monitor). The batch is read twice
    by construction — once to build its word table, once for the encode
    join — the same two-pass floor as the batch encoder; the merge fold
    itself runs over the checkpointed word table, never the batch."""
    from ..operators.text import (
        bpe_encode_with_ranked,
        collect_ranked_merges,
    )
    from ..operators.upsert import upsert_partitions

    ranked = collect_ranked_merges(merges)

    def process(batch: DataFrame, batch_id: int) -> None:
        encoded = bpe_encode_with_ranked(
            batch, ranked, text_col=text_col, id_col=id_col
        ).withColumn("batch_id", F.lit(batch_id))
        upsert_partitions(encoded, out_path, ["batch_id"])

    return _start_stream(docs, checkpoint, available_now, process)


def pack_manifest_from_batches(
    spark,
    counts_path: str,
    budget: int,
    shard_col: str = "shard",
    shard_type: str = "long",
) -> DataFrame:
    """Merged read of the streaming packing manifest: per-batch partials
    sum per (shard, seq), then fill_rate applies the SAME single IEEE
    division as the batch operator — identical rows to
    ``sampling.pack_manifest`` over the stream-so-far.

    A monitor whose every micro-batch was empty lands no partial FILES
    (dynamic overwrite of an empty frame touches no partitions), and one
    that never ran lands no PATH; both legitimately mean "zero windows
    so far", so the read returns an EMPTY manifest with the declared
    schema (``shard_type`` = the stream's shard column type) instead of
    surfacing [PATH_NOT_FOUND] / [UNABLE_TO_INFER_SCHEMA] to a caller
    that asked a well-defined question."""
    try:
        counts = spark.read.parquet(counts_path)
    except AnalysisException as exc:
        if _never_landed(exc):
            return spark.createDataFrame(
                [],
                schema=(
                    f"{shard_col} {shard_type}, seq long, n_docs long, "
                    "window_tokens long, has_oversize boolean, "
                    "fill_rate double"
                ),
            )
        raise
    return (
        counts
        .groupBy(shard_col, "seq")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("window_tokens").cast("long").alias("window_tokens"),
            F.max("has_oversize").alias("has_oversize"),
        )
        .select(
            shard_col,
            "seq",
            "n_docs",
            "window_tokens",
            "has_oversize",
            F.round(
                F.col("window_tokens") / F.lit(float(budget)), 6
            ).alias("fill_rate"),
        )
    )
