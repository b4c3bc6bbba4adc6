"""The minute→hourly→daily price pipeline (SURVEY.md §3.1).

Reference: three cooperating DAGs — per-minute ingest
(lecture3/12_binance_fetch_minute.py), hourly aggregation
(13_binance_calculate_hourly.py), daily rollup (14_binance_calculate_daily.py)
— plus a 30-day backfill (15_binance_backfill_last_month.py).

Spark restatement: ONE declarative lineage raw →(hour bucket agg)→ hourly
→(date rollup)→ daily, materialized as three partitioned parquet layers with
idempotent partition upsert. The golden-output quirks are preserved:
hour as zero-padded string, daily avg = mean of hourly avgs, first/last by
fetch_time order via min_by/max_by (SURVEY §7.3).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.aggregates import daily_rollup, multi_stat_time_bucket
from ..operators.materialize import lineage_cut
from ..operators.upsert import upsert_partitions
from ..operators.windows import dedup_keep_last


def hourly_stats(raw: DataFrame, ts_col: str = "fetch_time", value_col: str = "price_float") -> DataFrame:
    """Hourly avg/min/max/first/last/count (13:56-67)."""
    return multi_stat_time_bucket(raw, ts_col, value_col, bucket="hour")


def daily_stats(hourly: DataFrame) -> DataFrame:
    """Daily rollup FROM hourly (14:46-64) — mean-of-hourly-means etc."""
    return daily_rollup(hourly)


def dedup_ticks(raw: DataFrame) -> DataFrame:
    """Backfill dedup: keep-last per closeTime by fetch order (15:129)."""
    return dedup_keep_last(raw, ["closeTime"], "fetch_time")


def run_backfill(
    spark: SparkSession,
    raw: DataFrame,
    base_path: str,
) -> dict[str, DataFrame]:
    """The 30-day backfill flow (15:82-197): dedup → hourly → daily, each
    layer upserted at partition granularity (date) so recomputing any day
    replaces exactly that day's partitions. The keep-last ticks, with
    their ``date`` column, are cut once (``lineage_cut``), so the three
    writes read the dedup result instead of each re-reading the source and
    re-running the dedup window."""
    dated = (
        dedup_ticks(raw)
        .withColumn("date", F.date_format("fetch_time", "yyyy-MM-dd"))
        .transform(lineage_cut)
    )
    ticks = dated.drop("date")
    hourly = hourly_stats(ticks)
    daily = daily_stats(hourly)
    upsert_partitions(dated, os.path.join(base_path, "raw"), ["date"])
    upsert_partitions(hourly, os.path.join(base_path, "hourly"), ["date"])
    upsert_partitions(daily, os.path.join(base_path, "daily"), ["date"])
    return {"ticks": ticks, "hourly": hourly, "daily": daily}
