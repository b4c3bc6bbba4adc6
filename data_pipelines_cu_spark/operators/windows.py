"""Window operators (SURVEY.md §2.5, §2.6).

The reference's window-ish ops: ROW_NUMBER argmax-per-group
(Solutions/chapter04/scripts/select_pageview_counts.sql:1-12), pandas
``shift(-1)`` lead (gold_war:143-146), positional first/last
(lecture3/13:63-64), keep-last dedup (lecture3/15:129).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .materialize import lineage_cut


def topk_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    k: int = 1,
    rank_col: str = "rn",
) -> DataFrame:
    """Top-k rows per group via ROW_NUMBER (reference
    select_pageview_counts.sql:1-12, k=1 argmax hour per page).

    One shuffle on the partition keys. At scale, if k is small and groups are
    many, this beats global sort; for heavy skew AQE splits the hot
    partition.
    """
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


# --- Scale-safe exact global ranking -----------------------------------------
# An unpartitioned Window.orderBy(...) moves the WHOLE input into one task
# — fine for decile rows / vocab tables / config metas, fatal for a
# corpus-sized table at 100 TB. These helpers are the engine's DEFAULT for
# exact corpus-sized ranking: the two-level prefix-sum shape of
# operators/sampling.py::systematic_weighted_sample generalized from
# id-blocks to arbitrary sort keys via a range shuffle.
#
# The whole family is sized by ONE number, post_shuffle_width: the width
# every other exchange in the engine already runs at. No plan is probed
# for its partition count: under AQE, turning a shuffled frame into an
# RDD to count its partitions runs the shuffle stage — a hidden Spark
# job per call.


# Largest partitions × n row count take_ordered lets ONE task heap-merge
# (see its docstring for the trade this prices).
MERGE_ROWS_BUDGET = 134_217_728


def post_shuffle_width(spark) -> int:
    """The engine's one shuffle width: ``max(spark.sql.shuffle.partitions,
    defaultParallelism)``. Every exchange the planner inserts runs at
    the conf width (AQE only coalesces it down), and the blocked-rank
    family uses the same number as its block count and as
    :func:`take_ordered`'s merge width — read from the session conf,
    never from a compiled plan, so sizing costs no Spark job. At
    cluster scale raise ``spark.sql.shuffle.partitions`` (session.py)
    and every rank stage widens with the rest of the engine."""
    return max(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        spark.sparkContext.defaultParallelism,
        1,
    )


def blocked_row_number(
    df: DataFrame,
    order_by: Sequence,
    rank_col: str = "_r",
) -> DataFrame:
    """Exact global ROW_NUMBER over ``order_by`` with NO single-task global
    sort. Returns ``df`` plus ``rank_col`` (LongType, 1-based — NOT the
    window function's IntegerType: the helper exists precisely for corpora
    past 2^31 rows, where an int rank would wrap; values are identical to
    ``row_number().over(Window.orderBy(*order_by))`` whenever ``order_by``
    is a TOTAL order — include a unique tiebreak key).

    Two-level plan: ``repartitionByRange(n_blocks, *order_by)`` splits the
    key space into contiguous ascending blocks (block id = range partition
    id — RangePartitioner assigns ascending ranges to ascending partition
    ids, and ``spark_partition_id()`` is non-deterministic to Catalyst, so
    its evaluation is pinned above the range exchange); each block ranks
    locally (one ordinary-sized task per block, never a fat task), and only
    the ``n_blocks``-row block-count table crosses the ordered prefix
    window. Global rank = local rank + broadcast block offset. Because the
    order is total, block-boundary placement (which range sampling does not
    fully determine) cannot change any rank — every ROW_NUMBER oracle twin
    stays byte-identical. The explicit partition count keeps AQE from
    coalescing the range exchange.

    ``n_blocks`` is :func:`post_shuffle_width` — the session's shuffle
    width, so a rank stage runs as wide as every other exchange and
    grows with ``spark.sql.shuffle.partitions``. Ranks are invariant to
    the block count, so the width can never change a result.

    The ranged table is checkpointed: its two consumers (the ranking
    window and the block-count aggregate) would otherwise each recompute
    the WHOLE upstream plan — ``spark_partition_id()`` is non-deterministic
    to Catalyst, which disables sameResult/ReusedExchange for this subtree,
    and a chain of blocked ranks (the RFM shape) doubles the plan per level
    without the cut (measured: 128 file scans and zero reuse for three
    chained ntiles; 3 scans with it).

    The cut is :func:`~.materialize.lineage_cut`, so the engine-wide
    ``spark.graft.reliableCuts`` conf decides whether it is local (the
    default) or reliable. A local cut pins a full copy of the ranged
    input on executor storage until the DataFrame is garbage-collected
    (three chained calls, as in RFM, pin three copies).
    """
    n_blocks = post_shuffle_width(df.sparkSession)
    ranged = df.repartitionByRange(n_blocks, *order_by).withColumn(
        "_brn_blk", F.spark_partition_id()
    )
    part = lineage_cut(ranged)
    # The ranking window requires ClusteredDistribution(_brn_blk); the
    # checkpoint records RangePartitioning(order_by), which does NOT
    # satisfy it, so Catalyst inserts a hash exchange — and an IMPLICIT
    # exchange may be coalesced by AQE below the block count, packing
    # several blocks into one task. The EXPLICIT count pins the exchange
    # at n_blocks width (and survives AQE coalescing); hash collisions
    # pack an occasional 2-3 blocks into one task, bounded.
    wide = part.repartition(n_blocks, "_brn_blk")
    w_loc = Window.partitionBy("_brn_blk").orderBy(*order_by)
    w_off = Window.orderBy("_brn_blk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    off = (
        part.groupBy("_brn_blk")
        .agg(F.count(F.lit(1)).alias("_brn_n"))
        .select(
            "_brn_blk",
            F.coalesce(F.sum("_brn_n").over(w_off), F.lit(0)).alias(
                "_brn_off"
            ),
        )
    )
    return (
        wide.withColumn("_brn_lr", F.row_number().over(w_loc))
        .join(F.broadcast(off), "_brn_blk")
        .withColumn(
            rank_col,
            (F.col("_brn_off") + F.col("_brn_lr")).cast("long"),
        )
        .drop("_brn_blk", "_brn_lr", "_brn_off")
    )


def take_ordered(
    df: DataFrame,
    order_by: Sequence,
    n: int,
    rank_col: str | None = None,
) -> DataFrame:
    """Top-``n`` selection under ``order_by`` that never plans a
    single-task global sort OR an unbounded single-point merge, whatever
    ``n`` is.

    ``orderBy().limit(n)`` compiles to TakeOrderedAndProject only while
    ``n`` is strictly below ``spark.sql.execution.topKSortFallbackThreshold``;
    at or past it Catalyst silently falls back to a full global Sort +
    GlobalLimit — the whole input in one task. NB the conf's REAL default
    is Int.MaxValue−15 (2147483632; verified on this Spark 4.1.2 — the
    widely repeated "default 10,000" is wrong), so out of the box the
    planner never falls back — but TakeOrderedAndProject itself merges
    ``partitions × n`` rows at a single point, which is its own scale
    trap for large ``n``: top-10M over 1,000 partitions is a 10-billion-row
    single-point merge the planner does nothing about. This helper is the
    engine-wide chokepoint for top-n selection and guards BOTH cliffs:
    the fast path is taken iff ``n`` is below the configured threshold
    AND ``n × post_shuffle_width ≤ MERGE_ROWS_BUDGET``. The width is the
    session's shuffle width (:func:`post_shuffle_width`), the same number
    that bounds any post-shuffle input — no plan is compiled or probed.
    Every caller in the package passes a frame that has already been
    shuffled (an aggregate or a shuffle join) or asks for n ≤ 128, where
    n × 2^20 partitions still fits the budget, so the conf width prices
    every merge it can meet.
    The budget prices a real TRADE, not a free lunch: the fast path's
    worst case is ONE task heap-merging ``partitions × n`` pre-truncated
    rows (O(R log n), ~10M rows/s), while the blocked path shuffles and
    materializes the ENTIRE input — far more total work, but
    distributed. The 128Mi-row budget sits near the indifference point
    (a low-minutes single merge task). Past the boundary:
    :func:`blocked_row_number` + a rank filter — fully distributed,
    identical row set whenever ``order_by`` is a total order (include a
    unique tiebreak key, as every caller here does).

    ``rank_col``: optionally annotate the 1-based selection rank —
    LongType on BOTH branches, so the output schema is stable across
    ``n`` (on the fast path it is minted by a row_number window over the
    ALREADY n-bounded result; on the blocked path it IS the blocked
    global rank, which must be long anyway past 2^31 selected rows).

    Two contract notes. (1) BOUNDED-PLAN CARVE-OUT: when the child's
    statically-known ``maxRows`` is ≤ ``n`` (e.g. ``spark.range``, local
    relations — never a parquet scan), Catalyst's EliminateLimits drops
    the fast path's Limit and plans a plain global Sort of the whole
    input; that input is ≤ n ≤ budget/width rows by the very check
    that chose the fast path, so the single-task sort is bounded and
    harmless — but the plan will NOT show TakeOrderedAndProject. (2)
    ORDERING: the fast path happens to return physically ordered output;
    the blocked path returns the same ROW SET distributed and UNORDERED.
    The contract is the row set plus ``rank_col`` — a consumer that
    needs physical order must sort the ≤ n-row result itself.
    """
    spark = df.sparkSession
    # no fallback literal: the conf is registered, so the no-arg get
    # returns the build's real default (a two-arg get would mask it)
    thr = int(
        spark.conf.get("spark.sql.execution.topKSortFallbackThreshold")
    )
    if n < thr and n * post_shuffle_width(spark) <= MERGE_ROWS_BUDGET:
        out = df.orderBy(*order_by).limit(n)
        if rank_col is not None:
            out = out.withColumn(
                rank_col,
                F.row_number().over(Window.orderBy(*order_by)).cast("long"),
            )
        return out
    ranked = blocked_row_number(df, order_by, "_tko_rn").filter(
        F.col("_tko_rn") <= n
    )
    if rank_col is not None:
        return ranked.withColumnRenamed("_tko_rn", rank_col)
    return ranked.drop("_tko_rn")


def blocked_ntile(
    df: DataFrame,
    order_by: Sequence,
    n_tiles: int,
    out_col: str = "tile",
) -> DataFrame:
    """Exact SQL NTILE(n) over ``order_by`` without the single-task global
    sort: NTILE is pure integer arithmetic on the global row number — with
    n rows, q = n div tiles and r = n mod tiles, the first r tiles hold
    q+1 rows and the rest q — so the blocked rank plus ONE broadcast total
    reproduces ``ntile(n).over(Window.orderBy(...))`` bit-for-bit
    (``order_by`` must be a total order for the assignment to be
    deterministic, same as the window form). The q = 0 branch (fewer rows
    than tiles: tile = rank) stays inside the IF's untaken arm, so ANSI
    mode never sees the div-by-zero."""
    ranked = blocked_row_number(df, order_by, "_bnt_rn")
    tot = F.broadcast(ranked.agg(F.count(F.lit(1)).alias("_bnt_n")))
    tile = F.expr(
        f"CAST(IF(_bnt_rn <= (_bnt_n % {n_tiles})"
        f" * ((_bnt_n div {n_tiles}) + 1),"
        f" (_bnt_rn - 1) div ((_bnt_n div {n_tiles}) + 1) + 1,"
        f" (_bnt_n % {n_tiles})"
        f" + (_bnt_rn - (_bnt_n % {n_tiles})"
        f" * ((_bnt_n div {n_tiles}) + 1) - 1)"
        f" div (_bnt_n div {n_tiles}) + 1) AS INT)"
    )
    return (
        ranked.crossJoin(tot)
        .withColumn(out_col, tile)
        .drop("_bnt_rn", "_bnt_n")
    )


def dedup_keep_last(
    df: DataFrame, keys: Sequence[str], order_col: str
) -> DataFrame:
    """Dedup by key keeping the row with max ``order_col`` (reference
    ``drop_duplicates(subset=['closeTime'], keep='last')`` where 'last' is
    file order = fetch order, lecture3/15:129 — here defined by timestamp,
    deterministic under any partitioning).
    """
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def first_last_in_bucket(
    df: DataFrame,
    bucket_cols: Sequence[str],
    value_col: str,
    order_col: str,
) -> DataFrame:
    """First and last value per bucket by time order — the window-function
    form of lecture3/13:63-64's iloc[0]/iloc[-1]. Aggregation form
    (min_by/max_by) lives in aggregates.multi_stat_time_bucket; this variant
    annotates every row instead of collapsing."""
    w = (
        Window.partitionBy(*bucket_cols)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return df.withColumn("first_" + value_col, F.first(value_col).over(w)).withColumn(
        "last_" + value_col, F.last(value_col).over(w)
    )


# --- Session funnel (ordered in-session conversion) --------------------------
# purchase_funnel counts stage populations corpus-wide; the session-level
# question is ORDERED: did view -> click -> purchase happen IN SEQUENCE
# within one 30-minute-gap session? A pure integer state machine folded
# over the session's time-ordered events — engine-exact, no timestamps in
# the output hash beyond the session start.


def session_conversion(
    df,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_tiebreak: str = "event_id",
    gap_minutes: int = 30,
):
    """(user, session_start_us, n_events, funnel_stage, converted):
    sessions by gaps-and-islands (a session starts when the gap from the
    previous event is >= gap_minutes), then a row-local fold advances the
    stage machine 0 -view-> 1 -click-> 2 -purchase-> 3 over the session's
    (ts, tiebreak)-ordered events. Stage and conversion are integers —
    the report hash-gates exactly.

    Plan: one user-keyed window pass assigns session ids, one
    (user, session) aggregate folds the machine. Linear; nothing exceeds
    a user's event history in any task."""
    from pyspark.sql import Window as W  # noqa: PLC0415

    w = W.partitionBy(user_col).orderBy(ts_col, order_tiebreak)
    gap_us = gap_minutes * 60 * 1_000_000
    lagged = F.lag(ts_col, 1).over(w)
    new_s = F.when(
        lagged.isNull()
        | ((F.unix_micros(F.col(ts_col)) - F.unix_micros(lagged)) >= gap_us),
        1,
    ).otherwise(0)
    sess = df.withColumn("_new", new_s).withColumn(
        "_sid",
        F.sum("_new").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    ordered = F.array_sort(
        F.collect_list(
            F.struct(F.col(ts_col), F.col(order_tiebreak), F.col(type_col))
        )
    )
    step = lambda acc, x: (  # noqa: E731
        F.when((acc == 0) & (x[type_col] == "view"), F.lit(1))
        .when((acc == 1) & (x[type_col] == "click"), F.lit(2))
        .when((acc == 2) & (x[type_col] == "purchase"), F.lit(3))
        .otherwise(acc)
    )
    fold = F.aggregate(ordered, F.lit(0), step)
    return (
        sess.groupBy(user_col, "_sid")
        .agg(
            F.unix_micros(F.min(ts_col)).alias("session_start_us"),
            F.count(F.lit(1)).alias("n_events"),
            fold.alias("funnel_stage"),
        )
        .select(
            user_col,
            "session_start_us",
            "n_events",
            F.col("funnel_stage").cast("int").alias("funnel_stage"),
            (F.col("funnel_stage") == 3).alias("converted"),
        )
    )


def session_conversion_sql(
    table: str = "events",
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_tiebreak: str = "event_id",
    gap_minutes: int = 30,
) -> str:
    """DuckDB twin of session_conversion (same islands, same list_reduce
    state machine over the same order)."""
    return f"""
    WITH o AS (
        SELECT {user_col}, {ts_col}, {order_tiebreak}, {type_col},
               CASE WHEN lag({ts_col}) OVER w IS NULL
                         OR epoch_us({ts_col}) - epoch_us(lag({ts_col}) OVER w)
                            >= {gap_minutes * 60 * 1000000}
                    THEN 1 ELSE 0 END AS new_s
        FROM {table}
        WINDOW w AS (PARTITION BY {user_col}
                     ORDER BY {ts_col}, {order_tiebreak})
    ),
    s AS (
        SELECT *, SUM(new_s) OVER (PARTITION BY {user_col}
                                   ORDER BY {ts_col}, {order_tiebreak}
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM o
    ),
    folded AS (
        SELECT {user_col}, sid,
               epoch_us(MIN({ts_col})) AS session_start_us,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               list_reduce(
                   list_prepend('0',
                       list({type_col} ORDER BY {ts_col}, {order_tiebreak})),
                   (acc, x) -> CASE
                       WHEN acc = '0' AND x = 'view' THEN '1'
                       WHEN acc = '1' AND x = 'click' THEN '2'
                       WHEN acc = '2' AND x = 'purchase' THEN '3'
                       ELSE acc END) AS funnel_stage
        FROM s GROUP BY {user_col}, sid
    )
    SELECT {user_col}, session_start_us, n_events,
           CAST(funnel_stage AS INT) AS funnel_stage,
           (CAST(funnel_stage AS INT) = 3) AS converted
    FROM folded
    """


# --- Event debounce (burst collapse) -----------------------------------------
# Telemetry feeds double-fire: retries, double-clicks, at-least-once
# delivery. The debounce keeps the FIRST event of each burst island (a
# burst = consecutive same-key events each within ``window_seconds`` of
# the previous) — gaps-and-islands again, but per (user, type) at seconds
# granularity rather than the 30-minute session gap.


def debounce_stats(
    df,
    key_cols: tuple[str, ...] = ("user_id", "event_type"),
    ts_col: str = "ts",
    order_tiebreak: str = "event_id",
    window_seconds: int = 10,
):
    """(keys..., n_events, n_kept, n_dropped): per key, how many events
    survive keeping only the first of each burst. One key-partitioned
    window (lag) + one aggregate; integer-exact, hash-gates."""
    from pyspark.sql import Window as W  # noqa: PLC0415

    w = W.partitionBy(*key_cols).orderBy(ts_col, order_tiebreak)
    gap_us = window_seconds * 1_000_000
    lagged = F.lag(ts_col, 1).over(w)
    kept = F.when(
        lagged.isNull()
        | ((F.unix_micros(F.col(ts_col)) - F.unix_micros(lagged)) >= gap_us),
        1,
    ).otherwise(0)
    return (
        df.withColumn("_k", kept)
        .groupBy(*key_cols)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("_k").alias("n_kept"),
            (F.count(F.lit(1)) - F.sum("_k")).alias("n_dropped"),
        )
    )


def debounce_sql(
    table: str = "events",
    key_cols: tuple[str, ...] = ("user_id", "event_type"),
    ts_col: str = "ts",
    order_tiebreak: str = "event_id",
    window_seconds: int = 10,
) -> str:
    """DuckDB twin of debounce_stats."""
    keys = ", ".join(key_cols)
    return f"""
    WITH o AS (
        SELECT {keys},
               CASE WHEN lag({ts_col}) OVER w IS NULL
                         OR epoch_us({ts_col}) - epoch_us(lag({ts_col}) OVER w)
                            >= {window_seconds * 1000000}
                    THEN 1 ELSE 0 END AS k
        FROM {table}
        WINDOW w AS (PARTITION BY {keys}
                     ORDER BY {ts_col}, {order_tiebreak})
    )
    SELECT {keys},
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(k) AS BIGINT) AS n_kept,
           CAST(COUNT(*) - SUM(k) AS BIGINT) AS n_dropped
    FROM o GROUP BY {keys}
    """
