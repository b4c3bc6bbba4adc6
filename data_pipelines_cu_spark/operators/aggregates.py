"""Aggregation operators (SURVEY.md §2.4).

Re-expresses the reference's pandas groupbys as Spark hash aggregations with
map-side partial aggregation (free via groupBy/agg). The hierarchical
minute→hour→day cascade keeps the reference's exact semantics — daily stats
are computed FROM the hourly pre-aggregate (mean-of-hourly-means, reference
lecture3/14_binance_calculate_daily.py:46-59), not from raw rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .materialize import lineage_cut


def decimal_avg(val: Column, count_of: Column | None = None) -> Column:
    """Order-independent mean: exact decimal sum, then one double division.

    ``AVG`` over doubles is summation-order dependent under partial (map-side)
    aggregation — the same query can hash-diverge from an oracle engine, or
    from itself across shuffle layouts, by 1 ulp, which ``ROUND(x, 6)`` then
    amplifies at rounding boundaries. Summing as ``DECIMAL(38,12)`` is exact
    and associative, so the result is bit-stable for any partitioning; the
    single decimal→double cast and division are deterministic IEEE ops.
    Oracle twin: ``CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / COUNT(x)``.
    """
    if count_of is None:
        count_of = val
    return F.sum(val.cast("decimal(38,12)")).cast("double") / F.count(count_of)


def group_count(df: DataFrame, *keys: str, count_name: str = "count") -> DataFrame:
    """THE canonical course query: ``groupby(keys).size()``.

    Reference: lecture3/01_unscheduled.py:26-31 (events date/user counts).
    Spark: hash aggregate with partial (map-side) combine — one shuffle on
    the group keys, linear at any scale.
    """
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias(count_name))


def multi_stat_time_bucket(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    bucket: str = "hour",
) -> DataFrame:
    """Per-bucket avg/min/max/first/last/count of ``value_col``.

    Reference: lecture3/13_binance_calculate_hourly.py:56-67. The reference's
    first/last are positional (``iloc[0]/iloc[-1]`` of time-sorted rows,
    :63-64); here they are order-defined via ``min_by/max_by(value, ts)`` —
    deterministic without a sort, single shuffle, no window pass.

    Emits ``date`` (DateType) and, for hour buckets, ``hour`` as a
    zero-padded string (golden-output fidelity: lecture3/13:47 uses
    ``strftime('%H')``).
    """
    ts, val = F.col(ts_col), F.col(value_col)
    # date as 'YYYY-MM-DD' string — golden-output fidelity (the reference's
    # partition keys and CSVs use string dates, FIXTURES.md §3) and
    # engine-neutral for the oracle compare.
    keys = [F.date_format(ts, "yyyy-MM-dd").alias("date")]
    if bucket == "hour":
        keys.append(F.date_format(ts, "HH").alias("hour"))
    elif bucket != "day":
        raise ValueError(f"unsupported bucket {bucket!r}")
    return df.groupBy(*keys).agg(
        decimal_avg(val).alias("avg_price"),
        F.min(val).alias("min_price"),
        F.max(val).alias("max_price"),
        F.min_by(val, ts).alias("first_price"),
        F.max_by(val, ts).alias("last_price"),
        F.count(val).alias("data_points"),
    )


def daily_rollup(hourly: DataFrame) -> DataFrame:
    """Daily stats FROM the hourly pre-aggregate (hierarchical re-agg).

    Reference: lecture3/14_binance_calculate_daily.py:46-64. Faithfully
    mean-of-hourly-means (NOT the raw mean — numerically different, §7.3),
    opening = first hour's first_price, closing = last hour's last_price,
    plus derived change columns guarded by ``opening_price > 0``.
    """
    hour = F.col("hour")
    daily = hourly.groupBy("date").agg(
        decimal_avg(F.col("avg_price")).alias("avg_price"),
        F.min("min_price").alias("min_price"),
        F.max("max_price").alias("max_price"),
        F.min_by("first_price", hour).alias("opening_price"),
        F.max_by("last_price", hour).alias("closing_price"),
        F.sum("data_points").alias("total_data_points"),
        F.count(F.lit(1)).alias("hours_with_data"),
    )
    return derived_change(daily)


def derived_change(
    df: DataFrame,
    open_col: str = "opening_price",
    close_col: str = "closing_price",
) -> DataFrame:
    """price_change / price_change_pct, pct guarded against zero open.

    Reference: lecture3/14_binance_calculate_daily.py:62-64.
    """
    o, c = F.col(open_col), F.col(close_col)
    return df.withColumn("price_change", c - o).withColumn(
        "price_change_pct", F.when(o > 0, (c - o) / o * 100.0)
    )


def zero_fill_counts(
    df: DataFrame, keys: DataFrame, key_col: str, count_name: str = "count"
) -> DataFrame:
    """Counts per key with 0 for keys absent from ``df``.

    Reference: lecture4/06_stocksense_complete.py:38 ``dict.fromkeys(pagenames, 0)``
    then tally. Spark: aggregate first (shrinks the fact side to one row per
    key), then right-join the key list — the key list is tiny, so Catalyst
    broadcasts it.
    """
    counts = group_count(df, key_col, count_name=count_name)
    return (
        keys.join(counts, key_col, "left")
        .na.fill(0, [count_name])
        .select(key_col, count_name)
    )


def groupwise_linreg(
    df,
    group_cols: list[str],
    x: Column,
    y: Column,
) -> "DataFrame":
    """Per-group simple linear regression (y on x) from ONE aggregate pass:
    slope, intercept, n — the distributed closed form, bit-stable.

    All five sufficient statistics are order-independent: n/Sx/Sxx are
    integer sums (x is cast to long), Sy/Sxy are exact decimal sums (the
    decimal_avg discipline). The closed-form algebra then runs on plain
    doubles in a FIXED expression order, so both engines execute the same
    IEEE sequence. One shuffle on the group key, map-side partials — the
    same cost as any groupBy aggregate at 100 TB.
    """
    xl = x.cast("long")
    stats = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xl).alias("sx"),
        F.sum(xl * xl).alias("sxx"),
        F.sum(y.cast("decimal(38,12)")).cast("double").alias("sy"),
        F.sum((xl.cast("double") * y).cast("decimal(38,12)"))
        .cast("double")
        .alias("sxy"),
    )
    nd = F.col("n").cast("double")
    denom = nd * F.col("sxx").cast("double") - (
        F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    slope = (nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")) / denom
    intercept = (F.col("sy") - slope * F.col("sx").cast("double")) / nd
    return stats.select(
        *group_cols,
        "n",
        F.when(denom != 0, F.round(slope, 6)).alias("slope"),
        F.when(denom != 0, F.round(intercept, 6)).alias("intercept"),
    )


def groupwise_linreg_oracle_sql(
    table: str = "events",
    group_expr: str = "event_type",
    group_alias: str = "event_type",
    x_expr: str = "date_part('hour', ts)::BIGINT",
    y_expr: str = "value",
) -> str:
    """DuckDB twin of groupwise_linreg (same exact sums, same fixed-order
    double algebra — NOT regr_slope, whose internal accumulation order is
    engine-defined)."""
    return f"""
    WITH stats AS (
        SELECT {group_expr} AS {group_alias},
               COUNT(*) AS n,
               SUM({x_expr}) AS sx,
               SUM(({x_expr}) * ({x_expr})) AS sxx,
               CAST(SUM(CAST({y_expr} AS DECIMAL(38,12))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(({x_expr})::DOUBLE * ({y_expr})
                    AS DECIMAL(38,12))) AS DOUBLE) AS sxy
        FROM {table} GROUP BY 1
    )
    SELECT {group_alias},
           CAST(n AS BIGINT) AS n,
           CASE WHEN n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE <> 0
                THEN ROUND((n::DOUBLE * sxy - sx::DOUBLE * sy)
                     / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE), 6)
           END AS slope,
           CASE WHEN n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE <> 0
                THEN ROUND((sy - ((n::DOUBLE * sxy - sx::DOUBLE * sy)
                     / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE))
                     * sx::DOUBLE) / n::DOUBLE, 6)
           END AS intercept
    FROM stats
    """


def ewma_by_key(
    df: DataFrame,
    key_col: str = "user_id",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
    value_col: str = "value",
    alpha_halves: bool = True,
) -> DataFrame:
    """Per-key exponentially weighted moving average with alpha = 1/2,
    zero-initialized: acc_k = acc_{k-1} * 0.5 + v_k * 0.5 folded over the
    key's history in event order. The classic streaming smoother (the
    reference's pandas loops compute exactly this shape row-by-row;
    lecture6 sensor smoothing) as ONE distributed aggregate.

    alpha = 1/2 is deliberate: the weights are exact powers of two, and
    the fold is sequential left-to-right, so the result is bit-identical
    on any IEEE engine (a general alpha would differ only in rounding, but
    the repo's oracle discipline wants exactness). Plan shape: one shuffle
    on the key; each key's history folds inside its group (bounded by
    per-key event count — for unbounded histories the segmented form
    folds per day then re-folds the per-day tails, same algebra).
    """
    assert alpha_halves, "only the exact alpha=1/2 fold is oracle-stable"
    ordered = F.sort_array(
        F.collect_list(F.struct(*[F.col(c) for c in order_cols], F.col(value_col)))
    )
    vals = F.transform(ordered, lambda s: s[value_col].cast("double"))
    fold = F.aggregate(
        vals, F.lit(0.0), lambda acc, v: acc * F.lit(0.5) + v * F.lit(0.5)
    )
    return df.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(fold, 6).alias("ewma_value"),
    )


def ewma_oracle_sql(
    table: str = "events",
    key_col: str = "user_id",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
    value_col: str = "value",
) -> str:
    """DuckDB twin of ewma_by_key: list_reduce over the same ordered list
    with the same zero-prepend and the same fold expression. The ORDER BY
    mirrors Spark's sort_array over struct(order_cols..., value) exactly:
    ties on the order columns break by the VALUE, and NULL keys sort
    FIRST (sort_array ascending puts NULL struct fields first, DuckDB
    defaults to NULLS LAST) — without both, the two engines fold ties in
    different orders and the bit-identical contract silently breaks."""
    order = ", ".join(
        f"{c} NULLS FIRST" for c in (*order_cols, value_col)
    )
    return f"""
    SELECT {key_col},
           COUNT(*) AS n_events,
           ROUND(list_reduce(
               list_prepend(CAST(0 AS DOUBLE),
                            list(CAST({value_col} AS DOUBLE) ORDER BY {order})),
               (acc, x) -> acc * 0.5 + x * 0.5), 6) AS ewma_value
    FROM {table}
    GROUP BY {key_col}
    """


# --- Robust outlier gate (median / MAD) ---------------------------------------
# Mean/stddev outlier gates break on the very rows they're meant to catch (a
# single 1e9 value drags the mean); median absolute deviation is the robust
# standard. Both medians here are the LOWER median — the element at sorted
# position (n+1)//2 — an exact SELECTION from the value multiset rather than
# an interpolation, so the statistic is bit-identical across engines (linear
# interpolation differs by the formula's IEEE operation order: a+(b-a)*f vs
# a*(1-f)+b*f can disagree by 1 ulp).


def robust_outlier_stats(
    df: DataFrame,
    keys: list[str],
    value_col: str = "value",
    k: float = 3.0,
) -> DataFrame:
    """Per-group robust outlier report: (keys..., n_rows, med, mad,
    n_outliers) where an outlier is |x - med| > k * MAD. Two group-local
    sort windows (the exact path — at 100 TB swap the selection for the
    mergeable histogram sketch in operators/sketches.py, same report
    shape) + one broadcast join-back of the group-sized stat tables."""
    from pyspark.sql import Window

    def _lower_median(d: DataFrame, col: str, out: str) -> DataFrame:
        w = Window.partitionBy(*keys).orderBy(col)
        cw = Window.partitionBy(*keys)
        return (
            d.select(*keys, col)
            .withColumn("_rn", F.row_number().over(w))
            .withColumn("_n", F.count(F.lit(1)).over(cw))
            .filter(F.col("_rn") == F.expr("(_n + 1) div 2"))
            .select(*keys, F.col(col).alias(out))
        )

    med = _lower_median(df, value_col, "med")
    dev = df.join(F.broadcast(med), keys).withColumn(
        "_dev", F.abs(F.col(value_col) - F.col("med"))
    )
    mad = _lower_median(dev, "_dev", "mad")
    return (
        dev.join(F.broadcast(mad), keys)
        .groupBy(*keys, "med", "mad")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                (F.col("_dev") > F.lit(k) * F.col("mad")).cast("long")
            ).alias("n_outliers"),
        )
        .select(*keys, "n_rows", "med", "mad", "n_outliers")
    )


def robust_outlier_oracle_sql(
    table: str = "events",
    keys: str = "event_type",
    value_expr: str = "value",
    k: float = 3.0,
) -> str:
    """DuckDB twin of robust_outlier_stats (same lower-median selection)."""
    return f"""
    WITH v AS (SELECT {keys} AS g, {value_expr} AS x FROM {table}),
    med AS (
        SELECT g, x AS med FROM (
            SELECT g, x,
                   ROW_NUMBER() OVER (PARTITION BY g ORDER BY x) AS rn,
                   COUNT(*) OVER (PARTITION BY g) AS n
            FROM v) WHERE rn = (n + 1) // 2
    ),
    dev AS (
        SELECT v.g, v.x, med.med, ABS(v.x - med.med) AS d
        FROM v JOIN med ON v.g = med.g
    ),
    mad AS (
        SELECT g, d AS mad FROM (
            SELECT g, d,
                   ROW_NUMBER() OVER (PARTITION BY g ORDER BY d) AS rn,
                   COUNT(*) OVER (PARTITION BY g) AS n
            FROM dev) WHERE rn = (n + 1) // 2
    )
    SELECT dev.g AS {keys}, dev.med, mad.mad,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN dev.d > {k} * mad.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev JOIN mad ON dev.g = mad.g
    GROUP BY dev.g, dev.med, mad.mad
    """


# --- Integer-exact seasonal anomaly gate -------------------------------------
# Daily volume anomalies against a day-of-week baseline (weekday
# seasonality is the dominant cycle in event feeds; a global mean flags
# every weekend). The k-sigma test is evaluated WITHOUT computing sigma:
#   (x - mean)^2 > k^2 * var   <=>   (n*x - s)^2 > k^2 * (n*ss - s^2)
# over per-weekday count sums s = sum(c), ss = sum(c^2) — every term an
# exact integer, so the flag (and therefore the value hash) is
# engine-independent; only the REPORTED mean takes one rounded division.


def daily_count_anomalies(
    df: DataFrame,
    ts_col: str = "ts",
    k: int = 2,
) -> DataFrame:
    """(event_date, dow, n_events, dow_mean, is_anomaly): events per day,
    the day's weekday index (0=Mon), that weekday's mean daily count, and
    the exact-integer k-sigma flag. The flagged day is INCLUDED in its
    own baseline (one pass, no leave-one-out), which self-masks at tiny
    baselines: the max reachable z over n same-weekday samples is
    (n-1)/sqrt(n), so k=2 needs >= 6 occurrences of the weekday before
    any single spike can flag — run it on a window of weeks, not days. One date-keyed count, one 7-row
    weekday aggregate broadcast back — nothing here grows with corpus
    size except the first count's shuffle (date-keyed, bounded by the
    calendar)."""
    daily = df.groupBy(
        F.date_format(F.col(ts_col), "yyyy-MM-dd").alias("event_date")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return flag_daily_anomalies(daily, k=k)


def flag_daily_anomalies(daily: DataFrame, k: int = 2) -> DataFrame:
    """The weekday-baseline flag applied to a (event_date, n_events)
    table — shared by the batch operator above and the streaming reader
    (streaming/jobs.py::daily_anomalies_from_counts), which merges
    per-micro-batch day counts by addition first. Counts are the ONLY
    state, and counts add, so stream-so-far == batch over the same rows
    bit-for-bit."""
    daily = daily.withColumn(
        "dow", F.weekday(F.to_date("event_date")).cast("int")
    )
    base = F.broadcast(
        daily.groupBy("dow").agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum("n_events").alias("_s"),
            F.sum(F.col("n_events") * F.col("n_events")).alias("_ss"),
        )
    )
    dev = F.col("_n") * F.col("n_events") - F.col("_s")
    var_n2 = F.col("_n") * F.col("_ss") - F.col("_s") * F.col("_s")
    return (
        daily.join(base, "dow")
        .select(
            "event_date",
            "dow",
            "n_events",
            F.round(F.col("_s").cast("double") / F.col("_n"), 6).alias(
                "dow_mean"
            ),
            (dev * dev > F.lit(k * k) * var_n2).alias("is_anomaly"),
        )
    )


def daily_anomalies_sql(
    table: str = "events", ts_col: str = "ts", k: int = 2
) -> str:
    """DuckDB twin of daily_count_anomalies (same integer inequality,
    same weekday convention: isodow-1 = Spark weekday, 0=Mon)."""
    return f"""
    WITH daily AS (
        SELECT strftime(CAST({ts_col} AS DATE), '%Y-%m-%d') AS event_date,
               CAST(isodow(CAST({ts_col} AS DATE)) - 1 AS INT) AS dow,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM {table} GROUP BY 1, 2
    ),
    base AS (
        SELECT dow, COUNT(*) AS n, SUM(n_events) AS s,
               SUM(n_events * n_events) AS ss
        FROM daily GROUP BY dow
    )
    SELECT event_date, daily.dow, n_events,
           ROUND(CAST(s AS DOUBLE) / n, 6) AS dow_mean,
           ((n * n_events - s) * (n * n_events - s)
            > {k * k} * (n * ss - s * s)) AS is_anomaly
    FROM daily JOIN base ON daily.dow = base.dow
    """


# --- Winsorized statistics (selection-exact tail clipping) -------------------
# The mean-with-outliers fix that KEEPS the rows (robust_outlier_stats
# rejects them): clip each group's values at the exact p05/p95 SELECTION
# members (rank ceil(q*n) of the sorted multiset — no interpolation, so
# the clip bounds are bit-identical across engines) and report the
# winsorized mean next to the raw mean.


def winsorized_stats(
    df: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    lo_pct: int = 5,
    hi_pct: int = 95,
    order_tiebreak: str = "event_id",
) -> DataFrame:
    """(group, n, lo_cut, hi_cut, n_clipped, raw_mean, winsor_mean):
    cut points are the sorted-multiset members at ranks ceil(n*lo/100)
    (floored at 1) and ceil(n*hi/100); means are exact decimal sums with
    one final rounded division (the decimal_avg discipline).

    Plan: one group-local sort window for ranks, a group-keyed broadcast
    join of the 2-row-per-group cut table, one aggregate. The window is
    the exact path; at 100 TB swap selection for the mergeable histogram
    sketch (operators/sketches.py) — same report shape."""
    from pyspark.sql import Window as W  # noqa: PLC0415

    w = W.partitionBy(group_col).orderBy(value_col, order_tiebreak)
    ranked = df.select(
        F.col(group_col),
        F.col(value_col).cast("double").alias("_v"),
        F.row_number().over(w).alias("_r"),
        F.count(F.lit(1)).over(W.partitionBy(group_col)).alias("_n"),
    )
    # SQL `div` on longs, never `/`: double division is exact only below
    # 2^53 — past ~1e8 rows rounding can cross an integer boundary and
    # pick a different cut member than the oracle's integer `//`.
    lo_rank = F.expr(f"greatest(1, (_n * {lo_pct} + 99) div 100)")
    hi_rank = F.expr(f"(_n * {hi_pct} + 99) div 100")
    cuts = F.broadcast(
        ranked.groupBy(group_col).agg(
            F.max(F.when(F.col("_r") == lo_rank, F.col("_v"))).alias("_lo"),
            F.max(F.when(F.col("_r") == hi_rank, F.col("_v"))).alias("_hi"),
        )
    )
    clipped = F.least(F.greatest(F.col("_v"), F.col("_lo")), F.col("_hi"))
    return (
        ranked.join(cuts, group_col)
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("_lo").alias("lo_cut"),
            F.max("_hi").alias("hi_cut"),
            F.sum(
                F.when(
                    (F.col("_v") < F.col("_lo")) | (F.col("_v") > F.col("_hi")), 1
                ).otherwise(0)
            ).alias("n_clipped"),
            F.round(decimal_avg(F.col("_v")), 6).alias("raw_mean"),
            F.round(decimal_avg(clipped, F.col("_v")), 6).alias("winsor_mean"),
        )
    )


def winsorized_stats_sql(
    table: str = "events",
    group_col: str = "event_type",
    value_col: str = "value",
    lo_pct: int = 5,
    hi_pct: int = 95,
    order_tiebreak: str = "event_id",
) -> str:
    """DuckDB twin of winsorized_stats (same selection ranks, same decimal
    sums)."""
    return f"""
    WITH ranked AS (
        SELECT {group_col}, CAST({value_col} AS DOUBLE) AS v,
               ROW_NUMBER() OVER (PARTITION BY {group_col}
                                  ORDER BY {value_col} NULLS FIRST,
                                           {order_tiebreak}) AS r,
               COUNT(*) OVER (PARTITION BY {group_col}) AS n
        FROM {table}
    ),
    cuts AS (
        SELECT {group_col},
               MAX(CASE WHEN r = greatest(1, (n * {lo_pct} + 99) // 100)
                        THEN v END) AS lo,
               MAX(CASE WHEN r = (n * {hi_pct} + 99) // 100 THEN v END) AS hi
        FROM ranked GROUP BY {group_col}
    )
    SELECT ranked.{group_col},
           CAST(COUNT(*) AS BIGINT) AS n,
           MAX(lo) AS lo_cut,
           MAX(hi) AS hi_cut,
           CAST(SUM(CASE WHEN v < lo OR v > hi THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clipped,
           ROUND(CAST(SUM(CAST(v AS DECIMAL(38,12))) AS DOUBLE)
                 / COUNT(v), 6) AS raw_mean,
           ROUND(CAST(SUM(CAST(least(greatest(v, lo), hi)
                               AS DECIMAL(38,12))) AS DOUBLE)
                 / COUNT(v), 6) AS winsor_mean
    FROM ranked JOIN cuts USING ({group_col})
    GROUP BY ranked.{group_col}
    """


# --- Time-weighted average (irregular-sample TWAP) ---------------------------
# The reference's price feed samples once a minute but real feeds are
# irregular; a plain AVG over samples weights a burst of ticks as heavily
# as an hour of silence. The fix is the duration-weighted mean
# sum(v_i * dt_i) / sum(dt_i) with dt from the NEXT event — exact integer
# microsecond weights, so only the value products are IEEE and both
# engines multiply the same pairs in the same order.


def time_weighted_avg(
    df: DataFrame,
    group_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    order_tiebreak: str = "event_id",
) -> DataFrame:
    """(group, event_date, n_intervals, twap): per group-day
    duration-weighted mean of value over [event, next event) intervals;
    the day's last event closes no interval and drops (groups with one
    event emit nothing). One group-day window for lead, one aggregate."""
    from pyspark.sql import Window as W  # noqa: PLC0415

    day = F.date_format(F.col(ts_col), "yyyy-MM-dd")
    w = W.partitionBy(group_col, day).orderBy(ts_col, order_tiebreak)
    stepped = df.select(
        F.col(group_col),
        day.alias("event_date"),
        F.col(value_col).cast("double").alias("_v"),
        (F.unix_micros(F.lead(ts_col, 1).over(w)) - F.unix_micros(F.col(ts_col))).alias(
            "_dt"
        ),
    ).filter(F.col("_dt").isNotNull())
    # Degenerate guard: every interval can be zero-length (duplicate
    # timestamps), making SUM(dt) = 0 — an integer division-by-zero
    # ERROR under ANSI mode rather than a quiet NaN. Report NULL twap
    # for a zero-duration day on both engines.
    return stepped.groupBy(group_col, "event_date").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.when(
            F.sum("_dt") > 0,
            F.round(
                F.sum((F.col("_v") * F.col("_dt")).cast("decimal(38,12)")).cast(
                    "double"
                )
                / F.sum("_dt"),
                6,
            ),
        ).alias("twap"),
    )


def time_weighted_avg_sql(
    table: str = "events",
    group_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    order_tiebreak: str = "event_id",
) -> str:
    """DuckDB twin of time_weighted_avg (same lead intervals, same decimal
    sum of double products over exact integer microseconds)."""
    return f"""
    WITH stepped AS (
        SELECT {group_col},
               strftime(CAST({ts_col} AS DATE), '%Y-%m-%d') AS event_date,
               CAST({value_col} AS DOUBLE) AS v,
               epoch_us(lead({ts_col}) OVER (
                   PARTITION BY {group_col}, CAST({ts_col} AS DATE)
                   ORDER BY {ts_col}, {order_tiebreak}))
               - epoch_us({ts_col}) AS dt
        FROM {table}
    )
    SELECT {group_col}, event_date,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CASE WHEN SUM(dt) > 0
                THEN ROUND(CAST(SUM(CAST(v * dt AS DECIMAL(38,12))) AS DOUBLE)
                           / SUM(dt), 6) END AS twap
    FROM stepped WHERE dt IS NOT NULL
    GROUP BY {group_col}, event_date
    """


# --- Population Stability Index (distribution drift on a numeric column) -----
# The industry-standard drift score between a reference window and the
# current window: decile bins from the REFERENCE distribution (selection
# members, no interpolation), Laplace-smoothed proportions, and
# PSI = Σ (p_cur − p_ref)·ln(p_cur / p_ref). Complements the token-level
# total-variation drift in operators/text.py with the numeric-column form
# every feature-monitoring pipeline ships.


def psi_value_drift(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
    n_bins: int = 10,
) -> DataFrame:
    """(bin, n_ref, n_cur, p_ref, p_cur, psi_term, psi_total): the data
    splits at the midpoint date (half-open; first half = reference), bin
    edges are the reference's exact selection deciles (rank
    ceil(n·i/n_bins) members), every row maps to a bin by counting edges
    below it, and proportions smooth by +1/bin (so empty bins never hit
    ln(0)). psi_total is the same exact-decimal sum on every row.

    Plan: one TWO-LEVEL BLOCKED rank over the REFERENCE half for the
    ≤ n_bins−1 edge members (windows.blocked_row_number — no single-task
    sort of the reference half; the mergeable histogram sketch remains the
    approximate alternative), then a broadcast of the 1-row edge array and
    one corpus-wide group-by-bin. The corpus never sorts globally.

    Both lineage cuts (the tagged corpus table here and the blocked
    rank's ranged table) go through materialize.lineage_cut, so
    ``spark.graft.reliableCuts`` decides local vs reliable."""
    from pyspark.sql import Window as W  # noqa: PLC0415

    from .windows import blocked_row_number  # noqa: PLC0415

    spark = df.sparkSession
    ev = df.select(
        F.col(id_col).alias("_id"),
        F.to_date(ts_col).alias("_d"),
        F.col(value_col).cast("double").alias("_v"),
    )
    cut = F.broadcast(
        ev.agg(F.min("_d").alias("_d0"), F.max("_d").alias("_d1")).select(
            F.expr("date_add(_d0, CAST((datediff(_d1, _d0) + 1) div 2 AS INT))")
            .alias("_cut")
        )
    )
    # one corpus materialization feeds the ranking AND the binning — the
    # naive plan re-derives this subtree (and rescans the table) per
    # consumer; the checkpoint holds 3 narrow columns
    tagged = lineage_cut(
        ev.crossJoin(cut).select(
            "_id", "_v", (F.col("_d") < F.col("_cut")).alias("_is_ref")
        )
    )
    ref = tagged.filter("_is_ref")
    n_ref = F.broadcast(ref.agg(F.count(F.lit(1)).alias("_nr")))
    ranked = (
        blocked_row_number(ref.select("_v", "_id"), ["_v", "_id"], "_r")
        .select("_v", "_r")
        .crossJoin(n_ref)
    )
    spine = spark.range(1, n_bins).select(F.col("id").alias("_i"))
    edges = F.broadcast(
        ranked.join(
            spine,
            F.col("_r")
            == F.expr(f"(_nr * _i + {n_bins - 1}) div {n_bins}"),
        )
        .groupBy()
        .agg(
            F.array_sort(
                F.collect_list(F.struct("_i", F.col("_v").alias("_e")))
            ).alias("_es")
        )
        .select(F.expr("transform(_es, x -> x._e)").alias("_edges"))
    )
    binned = tagged.crossJoin(edges).select(
        "_is_ref",
        F.expr(
            "1 + aggregate(_edges, 0, (acc, e) -> acc + if(_v > e, 1, 0))"
        ).alias("bin"),
    )
    counts = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("_is_ref"), 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("_is_ref"), 0).otherwise(1)).alias("n_cur"),
    )
    bins = spark.range(1, n_bins + 1).select(
        F.col("id").cast("int").alias("bin")
    )
    # split totals come FROM the bin counts (every row lands in a bin) —
    # never a second corpus pass
    w_all = W.partitionBy(F.lit(1))
    filled = bins.join(counts, "bin", "left").select(
        "bin",
        F.coalesce("n_ref", F.lit(0)).cast("long").alias("n_ref"),
        F.coalesce("n_cur", F.lit(0)).cast("long").alias("n_cur"),
    ).select(
        "bin",
        "n_ref",
        "n_cur",
        F.sum("n_ref").over(w_all).alias("_tr"),
        F.sum("n_cur").over(w_all).alias("_tc"),
    )
    p_ref = (F.col("n_ref") + 1) / (F.col("_tr") + n_bins)
    p_cur = (F.col("n_cur") + 1) / (F.col("_tc") + n_bins)
    term = (p_cur - p_ref) * F.log(p_cur / p_ref)
    w_all = W.partitionBy(F.lit(1))
    return (
        filled.withColumn("_term", term)
        .withColumn(
            "psi_total",
            F.round(
                F.sum(F.col("_term").cast("decimal(38,12)"))
                .over(w_all)
                .cast("double"),
                6,
            ),
        )
        .select(
            "bin",
            "n_ref",
            "n_cur",
            F.round(p_ref, 6).alias("p_ref"),
            F.round(p_cur, 6).alias("p_cur"),
            F.round("_term", 6).alias("psi_term"),
            "psi_total",
        )
    )


def psi_value_drift_sql(
    table: str = "events",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
    n_bins: int = 10,
) -> str:
    """DuckDB twin of psi_value_drift (same midpoint split, same selection
    edges, same Laplace smoothing, same decimal total)."""
    return f"""
    WITH ev AS (
        SELECT {id_col} AS id, CAST({ts_col} AS DATE) AS d,
               CAST({value_col} AS DOUBLE) AS v
        FROM {table}
    ),
    cut AS (
        SELECT MIN(d) + CAST((MAX(d) - MIN(d) + 1) // 2 AS INTEGER) AS cut_d
        FROM ev
    ),
    tagged AS (
        SELECT id, v, d < cut_d AS is_ref FROM ev CROSS JOIN cut
    ),
    ref AS (SELECT * FROM tagged WHERE is_ref),
    nr AS (SELECT COUNT(*) AS n FROM ref),
    ranked AS (
        -- NULLS FIRST pins DuckDB (default NULLS LAST) to Spark's
        -- asc_nulls_first Window order: a NULL value in the reference
        -- half must shift every rank identically on both engines
        SELECT v, ROW_NUMBER() OVER (ORDER BY v NULLS FIRST,
                                     id NULLS FIRST) AS r
        FROM ref
    ),
    edges AS (
        SELECT list(v ORDER BY i) AS es
        FROM (SELECT i, (SELECT v FROM ranked, nr
                         WHERE r = (nr.n * i + {n_bins - 1}) // {n_bins}) AS v
              FROM range(1, {n_bins}) t(i))
    ),
    binned AS (
        SELECT is_ref,
               1 + len(list_filter(es, e -> v > e)) AS bin
        FROM tagged CROSS JOIN edges
    ),
    counts AS (
        SELECT bin,
               CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
               CAST(SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS n_cur
        FROM binned GROUP BY bin
    ),
    tot AS (
        SELECT CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS tr,
               CAST(SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS tc
        FROM binned
    ),
    filled AS (
        SELECT CAST(b.bin AS INT) AS bin,
               COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cur, 0) AS n_cur,
               tr, tc,
               (COALESCE(n_ref, 0) + 1) / CAST(tr + {n_bins} AS DOUBLE) AS p_ref,
               (COALESCE(n_cur, 0) + 1) / CAST(tc + {n_bins} AS DOUBLE) AS p_cur
        FROM range(1, {n_bins + 1}) b(bin)
        LEFT JOIN counts ON b.bin = counts.bin CROSS JOIN tot
    )
    SELECT bin, n_ref, n_cur,
           ROUND(p_ref, 6) AS p_ref, ROUND(p_cur, 6) AS p_cur,
           ROUND((p_cur - p_ref) * ln(p_cur / p_ref), 6) AS psi_term,
           ROUND(CAST(SUM(CAST((p_cur - p_ref) * ln(p_cur / p_ref)
                               AS DECIMAL(38,12))) OVER () AS DOUBLE), 6)
               AS psi_total
    FROM filled
    """


# --- Benford first-digit audit ----------------------------------------------
# Financial-amount fraud/quality screening: natural multi-magnitude
# amounts follow log10(1 + 1/d) first-digit frequencies; fabricated or
# truncated data doesn't. Exact-integer digit extraction (cents as
# BIGINT, then the leading decimal digit of the integer) so the digit
# itself can never diverge between engines; the expectation constants are
# shared literals, not per-engine log() calls.

_BENFORD_P = [0.0] + [
    0.3010299956639812, 0.17609125905568124, 0.12493873660829993,
    0.09691001300805642, 0.07918124604762482, 0.06694678963061322,
    0.05799194697768673, 0.05115252244738129, 0.04575749056067514,
]


def benford_digit_audit(
    df: DataFrame, amount_col: str = "o_totalprice"
) -> DataFrame:
    """(digit, n, obs_p, exp_p, chi2_term, chi2_total) for digits 1–9:
    leading digit of round(amount·100) as an exact BIGINT, observed vs
    Benford expectation, per-digit χ² contribution and the exact-decimal
    total. One group-by on a 1-byte key — fully map-side combinable."""
    from pyspark.sql import Window as W  # noqa: PLC0415

    spark = df.sparkSession
    digits = df.filter(F.col(amount_col) > 0).select(
        F.substring(
            F.round(F.col(amount_col) * 100).cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    counts = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    spine = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    total = F.broadcast(digits.agg(F.count(F.lit(1)).alias("_t")))
    exp_p = F.element_at(
        F.array(*[F.lit(p) for p in _BENFORD_P[1:]]), F.col("digit")
    )
    chi2 = (F.col("n") - F.col("_t") * exp_p) * (
        F.col("n") - F.col("_t") * exp_p
    ) / (F.col("_t") * exp_p)
    return (
        spine.join(counts, "digit", "left")
        .select(
            "digit", F.coalesce("n", F.lit(0)).cast("long").alias("n")
        )
        .crossJoin(total)
        .withColumn("_chi2", chi2)
        .withColumn(
            "chi2_total",
            F.round(
                F.sum(F.col("_chi2").cast("decimal(38,12)"))
                .over(W.partitionBy(F.lit(1)))
                .cast("double"),
                6,
            ),
        )
        .select(
            "digit",
            "n",
            F.round(F.col("n") / F.col("_t"), 6).alias("obs_p"),
            F.round(exp_p, 6).alias("exp_p"),
            F.round("_chi2", 6).alias("chi2_term"),
            "chi2_total",
        )
    )


def benford_audit_sql(
    table: str = "orders", amount_col: str = "o_totalprice"
) -> str:
    """DuckDB twin of benford_digit_audit (same exact-integer digit, same
    shared expectation literals)."""
    # CAST: DuckDB parses bare decimal literals as DECIMAL and the χ²
    # algebra then overflows DECIMAL(38); force the same IEEE doubles
    # Spark uses.
    exp_case = " ".join(
        f"WHEN {d} THEN CAST({_BENFORD_P[d]!r} AS DOUBLE)"
        for d in range(1, 10)
    )
    return f"""
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(ROUND({amount_col} * 100) AS BIGINT)
                                AS VARCHAR), 1, 1) AS INT) AS digit
        FROM {table} WHERE {amount_col} > 0
    ),
    counts AS (
        SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY digit
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM digits),
    filled AS (
        SELECT CAST(s.digit AS INT) AS digit, COALESCE(n, 0) AS n, t,
               CASE CAST(s.digit AS INT) {exp_case} END AS exp_p
        FROM range(1, 10) s(digit)
        LEFT JOIN counts ON s.digit = counts.digit CROSS JOIN tot
    )
    SELECT digit, n,
           ROUND(n / CAST(t AS DOUBLE), 6) AS obs_p,
           ROUND(exp_p, 6) AS exp_p,
           ROUND((n - t * exp_p) * (n - t * exp_p) / (t * exp_p), 6)
               AS chi2_term,
           ROUND(CAST(SUM(CAST((n - t * exp_p) * (n - t * exp_p) / (t * exp_p)
                               AS DECIMAL(38,12))) OVER () AS DOUBLE), 6)
               AS chi2_total
    FROM filled
    """


# --- Seasonal-naive forecast backtest ---------------------------------------
# The capacity-planning baseline every forecasting system is graded
# against: predict each day's event count with the count 7 days earlier
# (calendar join, not row lag — gaps must not slide the season), report
# per-weekday MAE / MAPE. Errors are exact integers; only the final
# ratio divisions are IEEE.


def seasonal_naive_error(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """(dow, n_days, mae, mape): |count(d) − count(d−7)| aggregated per
    weekday (0 = Monday) over every day with a lag-7 partner. Daily
    counts shrink the input to one row per day before the self-join, so
    the join cost is calendar-sized, never corpus-sized."""
    daily = df.groupBy(F.to_date(ts_col).alias("_d")).agg(
        F.count(F.lit(1)).alias("_n")
    )
    lagged = daily.join(
        daily.select(
            F.col("_d").alias("_dl"), F.col("_n").alias("_np")
        ),
        F.col("_dl") == F.date_sub(F.col("_d"), 7),
    )
    err = F.abs(F.col("_n") - F.col("_np"))
    return (
        lagged.groupBy(F.weekday("_d").alias("dow"))
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(decimal_avg(err), 6).alias("mae"),
            F.round(
                decimal_avg((err / F.col("_n")).cast("decimal(38,12)")), 6
            ).alias("mape"),
        )
    )


def seasonal_naive_sql(table: str = "events", ts_col: str = "ts") -> str:
    """DuckDB twin of seasonal_naive_error (same calendar join, same
    weekday convention isodow−1 = Spark weekday, same decimal means)."""
    return f"""
    WITH daily AS (
        SELECT CAST({ts_col} AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
        FROM {table} GROUP BY 1
    ),
    lagged AS (
        SELECT a.d, a.n, b.n AS np, ABS(a.n - b.n) AS err
        FROM daily a JOIN daily b ON b.d = a.d - 7
    )
    SELECT CAST(isodow(d) - 1 AS INT) AS dow,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(CAST(SUM(CAST(err AS DECIMAL(38,12))) AS DOUBLE)
                 / COUNT(err), 6) AS mae,
           ROUND(CAST(SUM(CAST(CAST(err / CAST(n AS DOUBLE)
                                     AS DECIMAL(38,12))
                               AS DECIMAL(38,12))) AS DOUBLE)
                 / COUNT(err), 6) AS mape
    FROM lagged GROUP BY 1
    """


def cusum_changepoint(
    df: DataFrame,
    ts_col: str = "ts",
) -> DataFrame:
    """Single-changepoint detection over the daily event-count series —
    the offline CUSUM statistic (Page's test shape): the day t maximizing
    |S_t − t·μ| over cumulative sums S. Evaluated as the ALL-INTEGER
    argmax of |D·S_t − t·S_D| (D days, S_D total events): no mean, no
    division, no float anywhere near the comparison, so the selected day
    is bit-exact on any engine; the reported magnitudes divide once at
    the end. Complements the PSI/seasonal/anomaly drift family with a
    "WHEN did the level shift" answer.

    1 row out: (change_day, n_days, cusum_peak = |C_t|, mean_before,
    mean_after; mean_after NULL when the argmax is the last day — a
    constant series ties every |G| at 0 and the earliest day wins).

    Plan: one date-keyed count shuffle; every window below runs on the
    CALENDAR-sized daily table (one row per day — an annotated
    small-table global window, not a corpus sort). Day counts MERGE BY
    ADDITION, so the finish step (cusum_from_daily) is shared with the
    streaming monitor's per-batch-partials reader — stream-so-far equals
    the batch report bit-for-bit."""
    daily = df.groupBy(
        F.date_format(F.to_date(ts_col), "yyyy-MM-dd").alias("event_date")
    ).agg(F.count(F.lit(1)).alias("n"))
    return cusum_from_daily(daily)


def cusum_from_daily(daily: DataFrame) -> DataFrame:
    """The CUSUM finish step over a mergeable (event_date 'yyyy-MM-dd',
    n) day-count table — shared verbatim by the batch operator and the
    streaming monitor so the two are equal by construction."""
    from pyspark.sql import Window as W  # noqa: PLC0415

    w_ord = W.orderBy("event_date").rowsBetween(W.unboundedPreceding, 0)
    w_all = W.partitionBy(F.lit(1))
    cum = daily.select(
        "event_date",
        F.sum("n").over(w_ord).alias("_s"),
        F.row_number().over(W.orderBy("event_date")).cast("long").alias("_t"),
    ).select(
        "*",
        F.max("_t").over(w_all).alias("_nd"),
        F.max("_s").over(w_all).alias("_sd"),  # counts are >= 1, so the
        # cumulative sum is strictly increasing and max = grand total
    )
    g = F.abs(F.col("_nd") * F.col("_s") - F.col("_t") * F.col("_sd"))
    w_pick = W.orderBy(g.desc(), F.col("_t").asc())
    return (
        cum.withColumn("_rk", F.row_number().over(w_pick))
        .filter(F.col("_rk") == 1)
        .select(
            F.col("event_date").alias("change_day"),
            F.col("_nd").alias("n_days"),
            F.round(g.cast("double") / F.col("_nd"), 6).alias("cusum_peak"),
            F.round(F.col("_s").cast("double") / F.col("_t"), 6).alias(
                "mean_before"
            ),
            F.when(
                F.col("_t") < F.col("_nd"),
                F.round(
                    (F.col("_sd") - F.col("_s")).cast("double")
                    / (F.col("_nd") - F.col("_t")),
                    6,
                ),
            ).alias("mean_after"),
        )
    )


def cusum_changepoint_sql(table: str = "events", ts_col: str = "ts") -> str:
    """DuckDB twin of cusum_changepoint (same integer argmax, same final
    divisions)."""
    return f"""
    WITH daily AS (
        SELECT CAST({ts_col} AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
        FROM {table} GROUP BY 1
    ),
    cum AS (
        -- NULLS FIRST pins DuckDB (default NULLS LAST) to Spark's
        -- asc_nulls_first ordering: a NULL-timestamp day must take the
        -- same rank on both engines (the PSI/temperature ADVICE class)
        SELECT d,
               CAST(SUM(n) OVER (ORDER BY d NULLS FIRST
                                 ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS s,
               CAST(ROW_NUMBER() OVER (ORDER BY d NULLS FIRST) AS BIGINT)
                   AS t,
               CAST(COUNT(*) OVER () AS BIGINT) AS nd,
               CAST(SUM(n) OVER () AS BIGINT) AS sd
        FROM daily
    ),
    scored AS (SELECT *, ABS(nd * s - t * sd) AS ag FROM cum),
    pick AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY ag DESC, t) AS rk FROM scored
    )
    SELECT strftime(d, '%Y-%m-%d') AS change_day,
           nd AS n_days,
           ROUND(CAST(ag AS DOUBLE) / nd, 6) AS cusum_peak,
           ROUND(CAST(s AS DOUBLE) / t, 6) AS mean_before,
           CASE WHEN t < nd
                THEN ROUND(CAST(sd - s AS DOUBLE) / (nd - t), 6) END
               AS mean_after
    FROM pick WHERE rk = 1
    """


def psi_reference_edges(
    ref: DataFrame,
    value_col: str = "value",
    id_col: str = "event_id",
    n_bins: int = 10,
) -> DataFrame:
    """1-row (edges array) of the reference distribution's selection
    deciles — the FROZEN artifact a drift monitor computes once and bins
    every future window against (the streaming PSI job broadcasts it per
    micro-batch). Edge selection ranks through the two-level blocked rank
    (windows.blocked_row_number), so the reference corpus never
    single-task sorts."""
    from .windows import blocked_row_number  # noqa: PLC0415

    spark = ref.sparkSession
    n_ref = F.broadcast(ref.agg(F.count(F.lit(1)).alias("_nr")))
    vals = ref.select(
        F.col(value_col).cast("double").alias("_v"),
        F.col(id_col).alias("_id"),
    )
    ranked = (
        blocked_row_number(vals, ["_v", "_id"], "_r")
        .select("_v", "_r")
        .crossJoin(n_ref)
    )
    spine = spark.range(1, n_bins).select(F.col("id").alias("_i"))
    return (
        ranked.join(
            spine,
            F.col("_r") == F.expr(f"(_nr * _i + {n_bins - 1}) div {n_bins}"),
        )
        .groupBy()
        .agg(
            F.array_sort(
                F.collect_list(F.struct("_i", F.col("_v").alias("_e")))
            ).alias("_es")
        )
        .select(F.expr("transform(_es, x -> x._e)").alias("edges"))
    )


def psi_bin_counts(
    df: DataFrame,
    edges: DataFrame,
    value_col: str = "value",
    n_bins: int = 10,
) -> DataFrame:
    """(bin, n) histogram of ``df`` against a frozen 1-row edges table —
    row-local binning + one 10-key aggregate; counts MERGE BY ADDITION,
    so per-batch/per-shard histograms roll up exactly."""
    return (
        df.crossJoin(F.broadcast(edges))
        .select(
            F.expr(
                f"1 + aggregate(edges, 0, (acc, e) ->"
                f" acc + if(CAST({value_col} AS DOUBLE) > e, 1, 0))"
            ).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def psi_from_counts(
    ref_counts: DataFrame, cur_counts: DataFrame, n_bins: int = 10
) -> DataFrame:
    """(bin, n_ref, n_cur, p_ref, p_cur, psi_term, psi_total) from two
    mergeable (bin, n) histograms — the same report and arithmetic as
    psi_value_drift's tail, factored so batch and streaming paths share
    one formula."""
    from pyspark.sql import Window as W  # noqa: PLC0415

    spark = ref_counts.sparkSession
    bins = spark.range(1, n_bins + 1).select(
        F.col("id").cast("int").alias("bin")
    )
    w_all = W.partitionBy(F.lit(1))
    filled = (
        bins.join(
            ref_counts.select("bin", F.col("n").alias("n_ref")), "bin", "left"
        )
        .join(
            cur_counts.select("bin", F.col("n").alias("n_cur")), "bin", "left"
        )
        .select(
            "bin",
            F.coalesce("n_ref", F.lit(0)).cast("long").alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).cast("long").alias("n_cur"),
        )
        .select(
            "*",
            F.sum("n_ref").over(w_all).alias("_tr"),
            F.sum("n_cur").over(w_all).alias("_tc"),
        )
    )
    p_ref = (F.col("n_ref") + 1) / (F.col("_tr") + n_bins)
    p_cur = (F.col("n_cur") + 1) / (F.col("_tc") + n_bins)
    term = (p_cur - p_ref) * F.log(p_cur / p_ref)
    return (
        filled.withColumn("_term", term)
        .withColumn(
            "psi_total",
            F.round(
                F.sum(F.col("_term").cast("decimal(38,12)"))
                .over(w_all)
                .cast("double"),
                6,
            ),
        )
        .select(
            "bin",
            "n_ref",
            "n_cur",
            F.round(p_ref, 6).alias("p_ref"),
            F.round(p_cur, 6).alias("p_cur"),
            F.round("_term", 6).alias("psi_term"),
            "psi_total",
        )
    )


def psi_against_reference(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str = "value",
    id_col: str = "event_id",
    n_bins: int = 10,
) -> DataFrame:
    """Batch PSI of ``cur`` against a frozen reference dataset — the
    one-shot twin the streaming monitor's merged read must reproduce."""
    edges = psi_reference_edges(ref, value_col, id_col, n_bins)
    return psi_from_counts(
        psi_bin_counts(ref, edges, value_col, n_bins),
        psi_bin_counts(cur, edges, value_col, n_bins),
        n_bins,
    )


# --- Gini / Lorenz revenue concentration -------------------------------------
# The scalar every "how concentrated is our revenue" question wants
# (top-N share answers a different, coarser question): sample Gini over
# the FULL customer base (zero-revenue customers included — dropping
# them understates concentration) plus the decile Lorenz curve the
# number summarizes.


def gini_concentration(
    entities: DataFrame,
    fact: DataFrame,
    entity_key: str = "c_custkey",
    fact_key: str = "o_custkey",
    amount_col: str = "o_totalprice",
    n_deciles: int = 10,
) -> DataFrame:
    """(decile, n_entities, decile_amount, cum_share, gini): amounts are
    exact decimal sums per entity (zero-filled across the full entity
    table); Gini = 2·Σ rank·x / (n·Σx) − (n+1)/n over the ascending
    (amount, key) order — rank·x products fold through exact decimals so
    the scalar is partition-order independent. One aggregate shuffle,
    one TWO-LEVEL BLOCKED rank (windows.blocked_row_number: the entity
    base never single-task sorts; ranks are total-order exact, so the
    ROW_NUMBER oracle is byte-identical), one 10-row group.
    """
    from pyspark.sql import Window as W  # noqa: PLC0415

    from .windows import blocked_row_number  # noqa: PLC0415

    per = (
        entities.select(F.col(entity_key).alias("_k"))
        .join(
            fact.groupBy(F.col(fact_key).alias("_k")).agg(
                F.sum(F.col(amount_col).cast("decimal(38,12)"))
                .cast("double")
                .alias("_x")
            ),
            "_k",
            "left",
        )
        .select("_k", F.coalesce("_x", F.lit(0.0)).alias("_x"))
    )
    ranked = blocked_row_number(per, ["_x", "_k"], rank_col="_r").select(
        "_x", "_r"
    )
    stats = F.broadcast(
        ranked.agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(F.col("_x").cast("decimal(38,12)")).cast("double").alias("_t"),
            F.sum((F.col("_r") * F.col("_x")).cast("decimal(38,12)"))
            .cast("double")
            .alias("_rx"),
        )
    )
    # total = 0 (no revenue anywhere): Gini/Lorenz are undefined — NULL,
    # not an ANSI DIVIDE_BY_ZERO crash
    gini = F.when(
        F.col("_t") > 0,
        F.round(
            2.0 * F.col("_rx") / (F.col("_n") * F.col("_t"))
            - (F.col("_n") + 1.0) / F.col("_n"),
            6,
        ),
    )
    deciled = ranked.crossJoin(stats).select(
        "_x", "_n", "_t", "_rx",
        F.expr(f"CAST(((_r - 1) * {n_deciles}) div _n AS INT) + 1").alias(
            "decile"
        ),
    )
    w_cum = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    return (
        deciled.groupBy("decile", "_n", "_t", "_rx")
        .agg(
            F.count(F.lit(1)).alias("n_entities"),
            F.round(
                F.sum(F.col("_x").cast("decimal(38,12)")).cast("double"), 2
            ).alias("decile_amount"),
            F.sum(F.col("_x").cast("decimal(38,12)")).alias("_da"),
        )
        .select(
            "decile",
            "n_entities",
            "decile_amount",
            F.when(
                F.col("_t") > 0,
                F.round(
                    F.sum("_da").over(w_cum).cast("double") / F.col("_t"), 6
                ),
            ).alias("cum_share"),
            gini.alias("gini"),
        )
    )


def gini_oracle_sql(
    entity_table: str = "customer",
    fact_table: str = "orders",
    entity_key: str = "c_custkey",
    fact_key: str = "o_custkey",
    amount_col: str = "o_totalprice",
    n_deciles: int = 10,
) -> str:
    """DuckDB twin of gini_concentration (same zero-fill, same ascending
    rank order, same decimal folds)."""
    return f"""
    WITH per AS (
        SELECT e.{entity_key} AS k,
               COALESCE(CAST(f.x AS DOUBLE), 0.0) AS x
        FROM {entity_table} e
        LEFT JOIN (SELECT {fact_key} AS k,
                          SUM(CAST({amount_col} AS DECIMAL(38,12))) AS x
                   FROM {fact_table} GROUP BY 1) f
          ON e.{entity_key} = f.k
    ),
    ranked AS (
        SELECT x, ROW_NUMBER() OVER (ORDER BY x, k) AS r FROM per
    ),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS t,
               CAST(SUM(CAST(r * x AS DECIMAL(38,12))) AS DOUBLE) AS rx
        FROM ranked
    ),
    deciled AS (
        SELECT x, n, t, rx,
               CAST(((r - 1) * {n_deciles}) // n AS INT) + 1 AS decile
        FROM ranked CROSS JOIN stats
    ),
    grouped AS (
        SELECT decile, n, t, rx,
               CAST(COUNT(*) AS BIGINT) AS n_entities,
               ROUND(CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE), 2)
                   AS decile_amount,
               SUM(CAST(x AS DECIMAL(38,12))) AS da
        FROM deciled GROUP BY decile, n, t, rx
    )
    SELECT decile, n_entities, decile_amount,
           CASE WHEN t > 0 THEN
               ROUND(CAST(SUM(da) OVER (ORDER BY decile
                                        ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                     / t, 6) END AS cum_share,
           CASE WHEN t > 0 THEN
               ROUND(2.0 * rx / (n * t) - (n + 1.0) / n, 6) END AS gini
    FROM grouped
    """
