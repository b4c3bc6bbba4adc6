"""Query registry: every SURVEY.md §2 operator as a (Spark, oracle-SQL) pair.

Each entry is the Spark-first expression of one reference operator (cited in
its docstring) over the driver's fixture tables, plus the ANSI-SQL oracle
DuckDB runs for the differential correctness gate. Column names/aliases are
identical on both sides (the driver sorts columns by name before hashing).

Float discipline: aggregates whose value depends on summation order are
rounded (sums→2dp, avgs/ratios→6dp) IDENTICALLY on both sides so the
value-hash is stable across engines; raw row values pass through unrounded.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import ml
from .catalog import load_table
from .operators import aggregates as agg
from .operators import dedup as dd
from .operators import filters as flt
from .operators import graph as gr
from .operators import joins as jn
from .operators import privacy as pv
from .operators import sampling as smp
from .operators import similarity as sim
from .operators import sketches as sk
from .operators import text as tx
from .operators import windows as win
from .operators.materialize import lineage_cut


@dataclass(frozen=True)
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str


QUERIES: dict[str, Query] = {}


def register(name: str, oracle: str | None):
    def deco(fn):
        QUERIES[name] = Query(name, fn, oracle, fn.__doc__ or "")
        return fn

    return deco


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# A1 — canonical group-count (reference lecture3/01_unscheduled.py:26-31)
# ---------------------------------------------------------------------------
@register(
    "events_user_daily_counts",
    """
    SELECT strftime(ts, '%Y-%m-%d') AS date, user_id, COUNT(*) AS n_events
    FROM events GROUP BY 1, 2
    """,
)
def events_user_daily_counts(spark, sf_dir):
    """groupby(date, user).size() — the course's most-repeated query."""
    ev = _t(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("date"), "user_id"
    )
    return agg.group_count(ev, "date", "user_id", count_name="n_events")


# ---------------------------------------------------------------------------
# TPC-H Q1-style pricing summary (A2/A9 analog; SQL AVG+GROUP BY
# Solutions/chapter04/scripts/select_pageview_counts.sql)
# ---------------------------------------------------------------------------
@register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                                   AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)                              AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)           AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           ROUND(AVG(l_quantity), 6)                                   AS avg_qty,
           ROUND(AVG(l_extendedprice), 6)                              AS avg_price,
           ROUND(AVG(l_discount), 6)                                   AS avg_disc,
           COUNT(*)                                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark, sf_dir):
    """Multi-stat grouped aggregation with derived measures — one shuffle,
    map-side partial agg, filter pushed to the parquet scan."""
    li = _t(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc), 2).alias("sum_disc_price"),
            F.round(F.sum(disc * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# A2 — multi-stat hourly bucket (lecture3/13_binance_calculate_hourly.py:56-67)
# events.value plays the minute-tick price role.
# ---------------------------------------------------------------------------
_HOURLY_ORACLE = """
    SELECT strftime(ts, '%Y-%m-%d') AS date,
           strftime(ts, '%H') AS hour,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(38,12))) AS DOUBLE)
                 / COUNT(value), 6) AS avg_price,
           MIN(value)            AS min_price,
           MAX(value)            AS max_price,
           MIN_BY(value, ts)     AS first_price,
           MAX_BY(value, ts)     AS last_price,
           COUNT(value)          AS data_points
    FROM events GROUP BY 1, 2
"""


@register("hourly_price_stats", _HOURLY_ORACLE)
def hourly_price_stats(spark, sf_dir):
    """Hourly avg/min/max/first/last/count; first/last are order-defined via
    min_by/max_by(value, ts) — no sort, single shuffle. Hour is a zero-padded
    string (golden fidelity, lecture3/13:47)."""
    ev = _t(spark, sf_dir, "events")
    out = agg.multi_stat_time_bucket(ev, "ts", "value", bucket="hour")
    return out.withColumn("avg_price", F.round("avg_price", 6))


# ---------------------------------------------------------------------------
# A3/A4 — hierarchical daily rollup FROM hourly pre-agg
# (lecture3/14_binance_calculate_daily.py:46-64; mean-of-hourly-means)
# ---------------------------------------------------------------------------
@register(
    "daily_price_rollup",
    """
    WITH hourly AS (
        SELECT strftime(ts, '%Y-%m-%d') AS date,
               strftime(ts, '%H') AS hour,
               CAST(SUM(CAST(value AS DECIMAL(38,12))) AS DOUBLE)
                 / COUNT(value)  AS avg_price,
               MIN(value)        AS min_price,
               MAX(value)        AS max_price,
               MIN_BY(value, ts) AS first_price,
               MAX_BY(value, ts) AS last_price,
               COUNT(value)      AS data_points
        FROM events GROUP BY 1, 2
    )
    SELECT date,
           ROUND(CAST(SUM(CAST(avg_price AS DECIMAL(38,12))) AS DOUBLE)
                 / COUNT(avg_price), 6)    AS avg_price,
           MIN(min_price)                  AS min_price,
           MAX(max_price)                  AS max_price,
           MIN_BY(first_price, hour)       AS opening_price,
           MAX_BY(last_price, hour)        AS closing_price,
           CAST(SUM(data_points) AS BIGINT) AS total_data_points,
           COUNT(*)                        AS hours_with_data,
           ROUND(MAX_BY(last_price, hour) - MIN_BY(first_price, hour), 6) AS price_change,
           ROUND(CASE WHEN MIN_BY(first_price, hour) > 0
                 THEN (MAX_BY(last_price, hour) - MIN_BY(first_price, hour))
                      / MIN_BY(first_price, hour) * 100.0 END, 6) AS price_change_pct
    FROM hourly GROUP BY date
    """,
)
def daily_price_rollup(spark, sf_dir):
    """Daily stats FROM hourly rows — faithfully mean-of-hourly-means (NOT
    the raw mean; reference semantics §7.3), opening/closing via
    min_by/max_by over hour, derived change columns."""
    ev = _t(spark, sf_dir, "events")
    hourly = agg.multi_stat_time_bucket(ev, "ts", "value", bucket="hour")
    daily = agg.daily_rollup(hourly)
    return daily.select(
        "date",
        F.round("avg_price", 6).alias("avg_price"),
        "min_price",
        "max_price",
        "opening_price",
        "closing_price",
        "total_data_points",
        "hours_with_data",
        F.round("price_change", 6).alias("price_change"),
        F.round("price_change_pct", 6).alias("price_change_pct"),
    )


# ---------------------------------------------------------------------------
# W1/O3 — top-k per group via ROW_NUMBER
# (Solutions/chapter04/scripts/select_pageview_counts.sql:1-12)
# ---------------------------------------------------------------------------
@register(
    "top_events_per_user",
    """
    SELECT user_id, event_id, value, rn FROM (
        SELECT user_id, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY value DESC, event_id) AS rn
        FROM events)
    WHERE rn <= 3
    """,
)
def top_events_per_user(spark, sf_dir):
    """Argmax-k per partition — the pageview 'best hour per page' pattern."""
    ev = _t(spark, sf_dir, "events")
    return win.topk_per_group(
        ev.select("user_id", "event_id", "value"),
        ["user_id"],
        [F.col("value").desc(), F.col("event_id").asc()],
        k=3,
    ).select("user_id", "event_id", "value", "rn")


# ---------------------------------------------------------------------------
# W2 — lead/next-row value (gold_war_etl_dag.py:143-146 shift(-1))
# ---------------------------------------------------------------------------
@register(
    "next_event_value",
    """
    SELECT user_id, event_id, value,
           LEAD(value) OVER (PARTITION BY user_id ORDER BY ts) AS value_next,
           CASE WHEN LEAD(value) OVER (PARTITION BY user_id ORDER BY ts) > value
                THEN 1 ELSE 0 END AS target
    FROM events
    """,
)
def next_event_value(spark, sf_dir):
    """price_next = shift(-1); target = next > current (the reference's
    training-label derivation). Partitioned by user → parallel windows."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    nxt = F.lead("value").over(w)
    return ev.select(
        "user_id",
        "event_id",
        "value",
        nxt.alias("value_next"),
        F.when(nxt > F.col("value"), 1).otherwise(0).alias("target"),
    )


# ---------------------------------------------------------------------------
# O4 — dedup keep-last by timestamp (lecture3/15:129)
# ---------------------------------------------------------------------------
@register(
    "dedup_keep_last",
    """
    SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us, value FROM (
        SELECT user_id, event_type, event_id, ts, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts DESC) AS rn
        FROM events)
    WHERE rn = 1
    """,
)
def dedup_keep_last_q(spark, sf_dir):
    """Keep the latest row per (user, event_type) — 'last' defined by event
    time, deterministic under any partitioning (§7.3 hard part 3). Timestamp
    emitted as epoch micros (engine-neutral representation)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts", "value"
    )
    out = win.dedup_keep_last(ev, ["user_id", "event_type"], "ts")
    return out.select(
        "user_id", "event_type", "event_id",
        F.unix_micros("ts").alias("ts_us"), "value",
    )


# ---------------------------------------------------------------------------
# J4 — star join over dims (01_umbrella.py join_datasets) + region rollup
# ---------------------------------------------------------------------------
@register(
    "orders_by_region",
    """
    SELECT r.r_name AS region,
           COUNT(*) AS n_orders,
           ROUND(SUM(o.o_totalprice), 2) AS total_revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY 1
    """,
)
def orders_by_region(spark, sf_dir):
    """Star join: fact (orders) joined through broadcast dims — zero
    shuffle on the fact side until the final small aggregation."""
    o = _t(spark, sf_dir, "orders")
    c = F.broadcast(_t(spark, sf_dir, "customer"))
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    r = F.broadcast(_t(spark, sf_dir, "region"))
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# J1 — left join + zero-fill (gold_war_etl_dag.py:148-150)
# ---------------------------------------------------------------------------
@register(
    "customer_order_totals",
    """
    SELECT c.c_custkey, c.c_name,
           COALESCE(t.n_orders, 0) AS n_orders,
           ROUND(COALESCE(t.total_spent, 0), 2) AS total_spent
    FROM customer c
    LEFT JOIN (
        SELECT o_custkey, COUNT(*) AS n_orders, SUM(o_totalprice) AS total_spent
        FROM orders GROUP BY 1
    ) t ON c.c_custkey = t.o_custkey
    """,
)
def customer_order_totals(spark, sf_dir):
    """Left join with null-fill for unmatched keys — aggregate-then-join so
    the join input is one row per key (shuffle the small side only)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    totals = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_totalprice").alias("total_spent"),
    )
    return (
        c.join(totals, c.c_custkey == totals.o_custkey, "left")
        .select(
            "c_custkey",
            "c_name",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.round(F.coalesce("total_spent", F.lit(0.0)), 2).alias("total_spent"),
        )
    )


# ---------------------------------------------------------------------------
# O5-analog — anti join (upsert's ~isin, lecture3/15:186-188)
# ---------------------------------------------------------------------------
@register(
    "customers_without_orders",
    """
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def customers_without_orders(spark, sf_dir):
    """left_anti join — the distributed form of ``~isin``."""
    from .operators.joins import anti_join

    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return anti_join(c, o, "c_custkey").select("c_custkey", "c_name", "c_mktsegment")


# ---------------------------------------------------------------------------
# P7 — half-open date-range filter (app.py:61-65) + pushdown
# ---------------------------------------------------------------------------
@register(
    "events_window_stats",
    """
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
    GROUP BY 1
    """,
)
def events_window_stats(spark, sf_dir):
    """start <= ts < end (half-open Airflow-interval semantics) pushed into
    the parquet scan AS AN INT64 RANGE on the stored nanos column (see
    catalog.events_between — filtering the converted timestamp would defeat
    row-group pruning), then per-type stats."""
    from .catalog import events_between

    windowed = events_between(
        spark, sf_dir, "2024-01-10 00:00:00", "2024-01-20 00:00:00"
    )
    return windowed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# P8 — keyword any-of rlike (gold_war WAR_KEYWORDS :37,93-97)
# ---------------------------------------------------------------------------
@register(
    "keyword_docs",
    """
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE regexp_matches(lower(text), 'join|merge|window')
    """,
)
def keyword_docs(spark, sf_dir):
    """Any-of keyword filter as one JVM regex over lowercased text."""
    d = _t(spark, sf_dir, "documents")
    return flt.keyword_any(d, ["text"], ["join", "merge", "window"]).select(
        "doc_id", "lang", "n_chars"
    )


# ---------------------------------------------------------------------------
# P6/A7 — membership filter + zero-fill lookup counts (lecture4/06:38-52)
# ---------------------------------------------------------------------------
@register(
    "tracked_type_counts",
    """
    WITH tracked(event_type) AS (VALUES ('click'), ('purchase'), ('refund_xyz')),
         counts AS (SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1)
    SELECT t.event_type, COALESCE(c.n, 0) AS n
    FROM tracked t LEFT JOIN counts c ON t.event_type = c.event_type
    """,
)
def tracked_type_counts(spark, sf_dir):
    """Pageview-style tally over a tracked set with 0-default for absent
    keys (dict.fromkeys(pagenames, 0)) — agg first, broadcast the key list."""
    ev = _t(spark, sf_dir, "events")
    tracked = ev.sparkSession.createDataFrame(
        [("click",), ("purchase",), ("refund_xyz",)], ["event_type"]
    )
    return agg.zero_fill_counts(ev, tracked, "event_type", count_name="n")


# ---------------------------------------------------------------------------
# W1 verbatim — per-type argmax hour by avg value (select_pageview_counts.sql)
# ---------------------------------------------------------------------------
@register(
    "best_hour_per_type",
    """
    SELECT event_type, hour, average FROM (
        SELECT event_type, strftime(ts, '%H') AS hour,
               ROUND(AVG(value), 6) AS average,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY ROUND(AVG(value), 6) DESC,
                                           strftime(ts, '%H')) AS rn
        FROM events GROUP BY 1, 2)
    WHERE rn = 1
    """,
)
def best_hour_per_type(spark, sf_dir):
    """The chapter04 analysis query re-expressed: AVG GROUP BY then
    ROW_NUMBER()=1 per partition (ties broken by hour for determinism)."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_format("ts", "HH").alias("hour")
    ).agg(F.round(F.avg("value"), 6).alias("average"))
    return win.topk_per_group(
        hourly, ["event_type"], [F.col("average").desc(), F.col("hour").asc()], k=1
    ).select("event_type", "hour", "average")


# ---------------------------------------------------------------------------
# J2/J3 — union of heterogeneous sources (tutorial2:222-259)
# ---------------------------------------------------------------------------
@register(
    "union_sources_summary",
    """
    WITH unioned AS (
        SELECT 'events' AS src, event_id AS id FROM events
        UNION ALL
        SELECT 'documents' AS src, doc_id AS id FROM documents
        UNION ALL
        SELECT 'embeddings' AS src, vec_id AS id FROM embeddings
    )
    SELECT src, COUNT(*) AS n, MIN(id) AS min_id, MAX(id) AS max_id
    FROM unioned GROUP BY 1
    """,
)
def union_sources_summary(spark, sf_dir):
    """unionByName over heterogeneous sources, then per-source stats."""
    from .operators.joins import union_sources

    ev = _t(spark, sf_dir, "events").select(
        F.lit("events").alias("src"), F.col("event_id").alias("id")
    )
    doc = _t(spark, sf_dir, "documents").select(
        F.lit("documents").alias("src"), F.col("doc_id").alias("id")
    )
    em = _t(spark, sf_dir, "embeddings").select(
        F.lit("embeddings").alias("src"), F.col("vec_id").alias("id")
    )
    return union_sources([ev, doc, em]).groupBy("src").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("id").alias("min_id"),
        F.max("id").alias("max_id"),
    )


# ---------------------------------------------------------------------------
# §2.7 — intersect / except (Spark built-ins the reference lacks)
# ---------------------------------------------------------------------------
@register(
    "clicker_purchase_split",
    """
    SELECT user_id, TRUE AS purchased FROM (
        SELECT user_id FROM events WHERE event_type = 'click'
        INTERSECT
        SELECT user_id FROM events WHERE event_type = 'purchase')
    UNION ALL
    SELECT user_id, FALSE AS purchased FROM (
        SELECT user_id FROM events WHERE event_type = 'click'
        EXCEPT
        SELECT user_id FROM events WHERE event_type = 'purchase')
    """,
)
def clicker_purchase_split(spark, sf_dir):
    """INTERSECT and EXCEPT in one gate entry: every clicker tagged with
    whether they ever purchased — the true half is the old
    clickers_who_purchased (intersect), the false half the old
    clickers_never_purchased (except); both merged round 12 under the
    200-entry registry rule to free a slot for the IVF-lifecycle entry
    (the round-10 revenue-KPI merge pattern). Both set ops still execute
    as Spark set operators, not a join rewrite."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    buys = ev.filter(F.col("event_type") == "purchase").select("user_id")
    both = clicks.intersect(buys).withColumn("purchased", F.lit(True))
    # subtract = SQL EXCEPT (set semantics): any purchase removes the user
    never = clicks.subtract(buys).withColumn("purchased", F.lit(False))
    return both.unionByName(never)


# ---------------------------------------------------------------------------
# §2.4 extras — distinct agg + rollup grouping sets
# ---------------------------------------------------------------------------
@register(
    "daily_active_users",
    """
    SELECT strftime(ts, '%Y-%m-%d') AS date,
           COUNT(DISTINCT user_id) AS dau,
           COUNT(*) AS n_events
    FROM events GROUP BY 1
    """,
)
def daily_active_users(spark, sf_dir):
    """Exact distinct per day (two-phase distinct aggregation)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("date")).agg(
        F.countDistinct("user_id").alias("dau"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "event_type_rollup",
    """
    SELECT event_type, strftime(ts, '%Y-%m-%d') AS date, COUNT(*) AS n,
           GROUPING(event_type) + 2 * GROUPING(strftime(ts, '%Y-%m-%d')) AS gid
    FROM events GROUP BY ROLLUP (event_type, strftime(ts, '%Y-%m-%d'))
    """,
)
def event_type_rollup(spark, sf_dir):
    """ROLLUP grouping sets (hierarchical totals) — free in Spark, absent in
    the reference (SURVEY §2.4 note)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("date")
    )
    return ev.rollup("event_type", "date").agg(
        F.count(F.lit(1)).alias("n"),
        (F.grouping("event_type") + 2 * F.grouping("date")).alias("gid"),
    )


# ---------------------------------------------------------------------------
# §2.8 — scalar function suite over documents
# ---------------------------------------------------------------------------
@register(
    "doc_scalar_suite",
    """
    SELECT doc_id,
           trim(lower(text))                       AS norm_text_prefix,
           length(text)                            AS text_len,
           split_part(text, ' ', 1)                AS first_token,
           concat_ws('|', lang, source)            AS lang_source,
           substr(text, 1, 16)                     AS head16,
           regexp_replace(text, '\\s+', '_', 'g')  AS underscored
    FROM documents WHERE doc_id < 50
    """,
)
def doc_scalar_suite(spark, sf_dir):
    """String scalar functions (trim/lower/split/concat_ws/substr/regexp) —
    all JVM-side, whole-stage codegen."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return d.select(
        "doc_id",
        F.trim(F.lower("text")).alias("norm_text_prefix"),
        F.length("text").alias("text_len"),
        F.split(F.col("text"), " ").getItem(0).alias("first_token"),
        F.concat_ws("|", "lang", "source").alias("lang_source"),
        F.substring("text", 1, 16).alias("head16"),
        F.regexp_replace("text", r"\s+", "_").alias("underscored"),
    )


@register(
    "event_props_extract",
    """
    SELECT event_id, CAST(props->>'$.k' AS INTEGER) AS k_value
    FROM events WHERE event_id < 100
    """,
)
def event_props_extract(spark, sf_dir):
    """JSON extraction (from_json/get_json_object — reference nested .get()
    chains, tutorial4:101-111)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 100)
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_value"),
    )


# ===========================================================================
# North-star training-data operators (documents / embeddings tables)
# ===========================================================================

# --- text analysis ---------------------------------------------------------
@register(
    "doc_token_stats",
    """
    SELECT doc_id, lang,
           len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS n_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
               AS n_tokens_bpe_est,
           length(text) AS text_len
    FROM documents
    """,
)
def doc_token_stats(spark, sf_dir):
    """Token counting: whitespace tokens + BPE-ish word-piece regex count."""
    d = _t(spark, sf_dir, "documents")
    d = tx.with_token_count(d)
    d = tx.with_char_token_estimate(d)
    return d.select(
        "doc_id", "lang", "n_tokens", "n_tokens_bpe_est",
        F.length("text").alias("text_len"),
    )


@register("doc_quality_scores", tx.quality_oracle_sql())
def doc_quality_scores(spark, sf_dir):
    """Quality scoring: length/stopword/punctuation heuristics composite."""
    d = _t(spark, sf_dir, "documents")
    return tx.with_quality_score(d).select(
        "doc_id", "n_tokens", "stop_ratio", "punct_ratio", "quality"
    )


@register(
    "doc_lang_id",
    f"""
    SELECT doc_id, lang AS lang_actual,
           {tx.lang_id_case_sql('text')} AS lang_pred
    FROM documents
    """,
)
def doc_lang_id(spark, sf_dir):
    """Heuristic language-ID: argmax of per-language stopword hits with a
    fixed priority tie-break (CASE chain identical on both engines)."""
    d = _t(spark, sf_dir, "documents")
    return tx.with_lang_id(d).select(
        "doc_id", F.col("lang").alias("lang_actual"), "lang_pred"
    )


@register(
    "doc_sentiment_daily",
    f"""
    SELECT lang, ROUND(AVG({tx.sentiment_oracle_expr('text')}), 6) AS avg_sentiment,
           COUNT(*) AS n_docs
    FROM documents GROUP BY lang
    """,
)
def doc_sentiment_daily(spark, sf_dir):
    """Sentiment agg (reference gold_war daily sentiment mean+count,
    :140-141) using the deterministic lexicon polarity."""
    d = _t(spark, sf_dir, "documents")
    return (
        tx.with_sentiment(d)
        .groupBy("lang")
        .agg(
            F.round(F.avg("sentiment"), 6).alias("avg_sentiment"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


@register(
    "doc_fingerprints",
    """
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
    FROM documents
    """,
)
def doc_fingerprints(spark, sf_dir):
    """Content fingerprint: md5 over normalized text (engine-portable)."""
    d = _t(spark, sf_dir, "documents")
    return tx.with_fingerprint(d).select("doc_id", "fingerprint")


# --- dedup -----------------------------------------------------------------
@register(
    "dedup_exact_groups",
    """
    SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS content_hash,
           MIN(doc_id) AS canonical_id,
           COUNT(*) AS n_dups
    FROM documents GROUP BY 1
    """,
)
def dedup_exact_groups_q(spark, sf_dir):
    """Exact dedup groups by content hash (hash-groupBy; only 32-byte
    digests shuffle at scale)."""
    return dd.exact_dedup_groups(_t(spark, sf_dir, "documents"))


@register(
    "ngram_jaccard_pairs",
    """
    WITH norm AS (
        SELECT doc_id, lang,
               string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS ws
        FROM documents
    ),
    gidx AS (
        SELECT doc_id, lang,
               unnest(CASE WHEN len(ws) >= 3 THEN range(1, len(ws) - 1) ELSE [] END) AS i,
               ws
        FROM norm
    ),
    gram_rows AS (
        SELECT DISTINCT doc_id, lang, ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS g
        FROM gidx
    ),
    gsets AS (
        SELECT doc_id, lang, list_distinct(list(g)) AS grams
        FROM gram_rows GROUP BY doc_id, lang
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(len(list_intersect(a.grams, b.grams))::DOUBLE
                 / (len(a.grams) + len(b.grams)
                    - len(list_intersect(a.grams, b.grams))), 6) AS jac
    FROM gsets a JOIN gsets b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.grams, b.grams))::DOUBLE
          / (len(a.grams) + len(b.grams)
             - len(list_intersect(a.grams, b.grams))) >= 0.5
    """,
)
def ngram_jaccard_pairs_q(spark, sf_dir):
    """Blocked exact word-3gram Jaccard near-dup pairs (block = lang)."""
    return dd.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), block_col="lang", threshold=0.5
    )


@register("minhash_lsh_pairs", dd.minhash_oracle_sql(threshold=0.5))
def minhash_lsh_pairs_q(spark, sf_dir):
    """MinHash(16)+LSH(8 bands) candidates verified by exact Jaccard — the
    unblocked near-dup scale path."""
    return dd.minhash_lsh_pairs(_t(spark, sf_dir, "documents"), threshold=0.5)


@register("simhash_fingerprints", dd.simhash_oracle_sql())
def simhash_fingerprints_q(spark, sf_dir):
    """64-bit SimHash per doc as hex string (distributed bit-vote agg)."""
    return dd.simhash64(_t(spark, sf_dir, "documents"))


# --- similarity search -----------------------------------------------------
@register("ann_cosine_topk", sim.cosine_topk_oracle_sql(k=5, n_queries=5))
def ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-5 for 5 query vectors (broadcast queries,
    per-query row_number top-k)."""
    em = _t(spark, sf_dir, "embeddings")
    queries = em.filter(F.col("vec_id") < 5)
    return sim.cosine_topk(em, queries, k=5)


@register("ann_lsh_topk", sim.cosine_topk_lsh_oracle_sql(k=5, n_queries=5))
def ann_lsh_topk(spark, sf_dir):
    """Sign-LSH bucketed ANN top-5 — scores only same-bucket candidates."""
    em = _t(spark, sf_dir, "embeddings")
    queries = em.filter(F.col("vec_id") < 5)
    return sim.cosine_topk_lsh(em, queries, k=5)


@register("ann_sq8_topk", sim.sq8_topk_oracle_sql(k=5, n_queries=5))
def ann_sq8_topk(spark, sf_dir):
    """ANN top-5 over int8 scalar-quantized (quantize->dequantize) vectors
    with the exact-float cosine and |error| alongside — pins the
    recall/error contract of 4x-compressed ANN indexes (1 byte/dim codes
    vs float32). Bounds are a single 1-row min/max aggregate broadcast
    onto a row-local map; no new shuffle beyond the brute-force pattern."""
    em = _t(spark, sf_dir, "embeddings")
    return sim.cosine_topk_sq8(em, k=5, n_queries=5)


@register("ann_pq_topk", sim.pq_topk_oracle_sql(k_neighbors=5, n_queries=5))
def ann_pq_topk(spark, sf_dir):
    """Product-quantization ADC ANN top-5 (Jégou et al. 2011): 4 subspace
    codebooks of 16 centroids = 4-byte codes (64x compression); corpus
    reconstructed from codes, queries exact; ADC-vs-exact cosine |error|
    reported per hit. Codebooks broadcast; the only corpus-keyed shuffle
    is the per-id regroup of its 4 code rows."""
    em = _t(spark, sf_dir, "embeddings")
    return sim.cosine_topk_pq(em, k_neighbors=5, n_queries=5)


@register(
    "ann_ivfpq_topk", sim.ivfpq_topk_oracle_sql(k_neighbors=5, n_queries=5)
)
def ann_ivfpq_topk(spark, sf_dir):
    """IVF-PQ ANN top-5 (the FAISS production config): coarse cells prune
    to 2 probes, PQ codebooks quantize cell RESIDUALS (they concentrate
    near zero, so the codebook budget stretches further), queries stay
    exact and score against coarse_centroid + reconstructed residual.
    Pruning and 64x code compression compose multiplicatively on the
    index bytes a query touches."""
    em = _t(spark, sf_dir, "embeddings")
    return sim.cosine_topk_ivfpq(em, k_neighbors=5, n_queries=5)


@register(
    "ann_lsh_multiprobe_topk",
    sim.cosine_topk_lsh_multiprobe_oracle_sql(k=5, n_queries=5),
)
def ann_lsh_multiprobe_topk(spark, sf_dir):
    """Multi-probe LSH ANN top-5: each query also probes the 8 buckets one
    hyperplane-flip away (9 probes) — recall close to brute force at
    ~9 buckets of candidates instead of the whole corpus."""
    em = _t(spark, sf_dir, "embeddings")
    queries = em.filter(F.col("vec_id") < 5)
    return sim.cosine_topk_lsh_multiprobe(em, queries, k=5)


@register("ann_ivf_topk", sim.cosine_topk_ivf_oracle_sql(k=5, n_queries=5))
def ann_ivf_topk(spark, sf_dir):
    """IVF ANN top-5: corpus inverted-indexed by nearest of 8 deterministic
    seed centroids; queries probe their 2 nearest cells. The scale path when
    bucket occupancy (not hash bits) should control candidate count."""
    em = _t(spark, sf_dir, "embeddings")
    queries = em.filter(F.col("vec_id") < 5)
    return sim.cosine_topk_ivf(em, queries, k=5, n_centroids=8, n_probe=2)


@register(
    "ivf_lifecycle_survivors",
    """
    SELECT vec_id,
           CAST(1 AS BIGINT) AS n_copies,
           ROUND(sqrt(list_sum(
               [CAST(embedding[i] AS DOUBLE)
                    * (CASE WHEN vec_id % 3 = 0 THEN 2 ELSE 1 END)
                    * CAST(embedding[i] AS DOUBLE)
                    * (CASE WHEN vec_id % 3 = 0 THEN 2 ELSE 1 END)
                for i in range(1, len(embedding) + 1)])), 6) AS vec_norm
    FROM embeddings
    -- mirror the index's admission rule exactly: NULL vectors are never
    -- ingested, and with no usable seed (vec_id < 8, the build's seed
    -- rule) there is no index at all, so the survivor set is empty
    WHERE embedding IS NOT NULL
      AND (SELECT COUNT(*) FROM embeddings
           WHERE vec_id < 8 AND embedding IS NOT NULL) > 0
    """,
)
def ivf_lifecycle_survivors(spark, sf_dir):
    """The persisted IVF index LIFECYCLE as a driver-gate row (round-12
    verdict item 8 — the serving-critical surface was pytest-only):
    build the index over the full embeddings table, land an upsert wave
    that RE-INGESTS every vec_id % 3 == 0 with a doubled vector (the
    update-in-place case, exact in float: x2 is an exponent bump), then
    compact, and report the survivor set — one copy per id (keep-last
    collapsed every duplicate) with the norm of the vector the index
    actually kept. The oracle is pure SQL over the source table: the
    kept vector is the doubled one exactly for the re-ingested ids, and
    norm(2x) == 2*norm(x) bit-for-bit (power-of-two scaling commutes
    with IEEE rounding), so a single stale or duplicated row anywhere in
    the index breaks the hash. The index lives in ONE deterministic
    temp dir per (session, sf_dir) — the build's static overwrite
    replaces it wholesale each run, so repeated gate/bench/audit calls
    drive the full lifecycle without accumulating directories (a
    per-call mkdtemp leaked an index copy per invocation)."""
    import os
    import re as _re
    import tempfile

    em = _t(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    # degenerate corpora (empty table, all-NULL payloads) have no seed
    # vectors to build an index from: the lifecycle is vacuously empty,
    # reported as a schema-stable 0-row survivor table instead of an
    # unreadable empty index directory (the empty-corpus sweep contract;
    # the oracle carries the same admission rule)
    if em.filter(F.col("vec_id") < 8).limit(1).count() == 0:
        return spark.createDataFrame(
            [], "vec_id long, n_copies long, vec_norm double"
        )
    path = os.path.join(
        tempfile.gettempdir(),
        "ivf_gate_{}_{}".format(
            spark.sparkContext.applicationId,
            _re.sub(r"[^A-Za-z0-9.]+", "_", sf_dir),
        ),
    )
    cents = sim.build_ivf_index(em, path, n_centroids=8, lloyd_iters=2)
    upd = em.filter(F.col("vec_id") % 3 == 0).select(
        "vec_id",
        F.transform(
            "embedding", lambda x: (x * F.lit(2.0)).cast("float")
        ).alias("embedding"),
    )
    sim.upsert_ivf_index(upd, path, cents, wave=1)
    sim.compact_ivf_index(spark, path, cents)
    idx = spark.read.parquet(path)
    return idx.groupBy("vec_id").agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.round(F.max(sim.norm(F.col("embedding"))), 6).alias("vec_norm"),
    )


@register(
    "embedding_label_centroids",
    """
    SELECT label,
           COUNT(*) AS n,
           ROUND(AVG(CAST(embedding[1] AS DOUBLE)), 6) AS dim0_mean,
           ROUND(AVG(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
                               for i in range(1, len(embedding) + 1)])), 6) AS mean_sq_norm
    FROM embeddings GROUP BY label
    """,
)
def embedding_label_centroids(spark, sf_dir):
    """Vector column aggregation: per-label count, first-dim mean, mean
    squared norm (array math JVM-side via transform/aggregate)."""
    em = _t(spark, sf_dir, "embeddings")
    vec = F.col("embedding")
    sq_norm = F.aggregate(
        F.transform(vec, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return em.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(F.element_at(vec, 1).cast("double")), 6).alias("dim0_mean"),
        F.round(F.avg(sq_norm), 6).alias("mean_sq_norm"),
    )


# ---------------------------------------------------------------------------
# J5 — as-of join (time-series alignment; reference aligns by exact date,
# gold_war:143-148 — this is the general operator, SURVEY §2.3)
# ---------------------------------------------------------------------------
@register(
    "asof_last_purchase",
    """
    WITH clicks AS (
        SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'click'),
         purchases AS (
        SELECT user_id, ts, value FROM events WHERE event_type = 'purchase')
    SELECT c.user_id, c.event_id AS click_id, epoch_us(c.ts) AS ts_us,
           c.value AS click_value, p.value AS r_value
    FROM clicks c ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND p.ts <= c.ts
    """,
)
def asof_last_purchase(spark, sf_dir):
    """For each click, the user's most recent purchase value at or before
    it. Implemented as ONE window pass over a tagged union (single shuffle,
    no range-join blowup) — verified against DuckDB's native ASOF JOIN."""
    from .operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id"),
        F.col("value").alias("click_value"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    out = asof_join(clicks, purchases, on_time="ts", by=["user_id"])
    return out.select(
        "user_id", "click_id", F.unix_micros("ts").alias("ts_us"),
        "click_value", "r_value",
    )


# ---------------------------------------------------------------------------
# P12 — multi-column threshold gate (tutorial4 go/no-go checks :158-176)
# ---------------------------------------------------------------------------
@register(
    "go_nogo_gate",
    """
    SELECT CASE WHEN value >= 50 AND value <= 150
                AND hour(ts) >= 6 AND hour(ts) < 22 THEN 'GO' ELSE 'NO GO' END
               AS decision,
           event_type, COUNT(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def go_nogo_gate(spark, sf_dir):
    """Conjunctive threshold predicates folded into a labeled gate —
    the rocket-launcher pre-flight pattern."""
    ev = _t(spark, sf_dir, "events")
    cond = (
        (F.col("value") >= 50) & (F.col("value") <= 150)
        & (F.hour("ts") >= 6) & (F.hour("ts") < 22)
    )
    return (
        ev.withColumn("decision", F.when(cond, "GO").otherwise("NO GO"))
        .groupBy("decision", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# P10 — validation split stats (warn-and-skip, tutorial1:146-161)
# ---------------------------------------------------------------------------
@register(
    "validation_split_stats",
    """
    SELECT source,
           CASE WHEN text IS NOT NULL AND n_chars > 200 THEN 'valid'
                ELSE 'quarantined' END AS status,
           COUNT(*) AS n
    FROM documents GROUP BY 1, 2
    """,
)
def validation_split_stats(spark, sf_dir):
    """Valid/quarantine split surfaced as per-source counts (both sides of
    filters.validate_split consumed in one aggregation)."""
    d = _t(spark, sf_dir, "documents")
    status = F.when(
        F.col("text").isNotNull() & (F.col("n_chars") > 200), "valid"
    ).otherwise("quarantined")
    return d.withColumn("status", status).groupBy("source", "status").agg(
        F.count(F.lit(1)).alias("n")
    )


# ---------------------------------------------------------------------------
# §2.8 — date/time scalar suite
# ---------------------------------------------------------------------------
@register(
    "datetime_scalar_suite",
    """
    SELECT event_id,
           epoch_ms(ts)                                  AS ts_ms,
           hour(ts)                                      AS hr,
           strftime(CAST(ts AS DATE) + 7, '%Y-%m-%d')    AS week_later,
           month(ts)                                     AS mon,
           dayofweek(ts) + 1                             AS dow
    FROM events WHERE event_id < 200
    """,
)
def datetime_scalar_suite(spark, sf_dir):
    """Epoch-ms conversion, hour/month/dow extraction, date arithmetic —
    the reference's strftime/fromtimestamp/timedelta idioms (§2.8).
    (DuckDB dow is 0=Sunday; Spark dayofweek is 1=Sunday — oracle adds 1.)"""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 200)
    return ev.select(
        "event_id",
        F.unix_millis("ts").alias("ts_ms"),
        F.hour("ts").alias("hr"),
        F.date_format(F.date_add(F.to_date("ts"), 7), "yyyy-MM-dd").alias("week_later"),
        F.month("ts").alias("mon"),
        F.dayofweek("ts").alias("dow"),
    )


# ---------------------------------------------------------------------------
# §2.4 — CUBE grouping sets
# ---------------------------------------------------------------------------
@register(
    "doc_lang_source_cube",
    """
    SELECT lang, source, COUNT(*) AS n, ROUND(AVG(n_chars), 6) AS avg_chars
    FROM documents GROUP BY CUBE (lang, source)
    """,
)
def doc_lang_source_cube(spark, sf_dir):
    """CUBE over (lang, source) — all four grouping sets in one pass."""
    d = _t(spark, sf_dir, "documents")
    return d.cube("lang", "source").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
    )


# ---------------------------------------------------------------------------
# SQL surface — the chapter04 analysis query executed via spark.sql verbatim
# (Solutions/chapter04/scripts/select_pageview_counts.sql)
# ---------------------------------------------------------------------------
@register(
    "sql_best_hour_verbatim",
    """
    SELECT event_type, hour, average FROM (
        SELECT event_type, strftime(ts, '%H') AS hour,
               ROUND(AVG(value), 6) AS average,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY ROUND(AVG(value), 6) DESC,
                                           strftime(ts, '%H')) AS rn
        FROM events GROUP BY 1, 2)
    WHERE rn = 1
    """,
)
def sql_best_hour_verbatim(spark, sf_dir):
    """Same analysis as best_hour_per_type but through the engine's SQL
    surface: register the view, run the SQL text (window fn verbatim)."""
    _t(spark, sf_dir, "events").createOrReplaceTempView("events_sql_v")
    return spark.sql(
        """
        SELECT event_type, hour, average FROM (
            SELECT event_type, date_format(ts, 'HH') AS hour,
                   ROUND(AVG(value), 6) AS average,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY ROUND(AVG(value), 6) DESC,
                                               date_format(ts, 'HH')) AS rn
            FROM events_sql_v GROUP BY 1, 2)
        WHERE rn = 1
        """
    )


# ---------------------------------------------------------------------------
# Document payload digests — each doc's UTF-8 bytes as a binary payload
# ---------------------------------------------------------------------------
@register(
    "doc_payload_features",
    """
    SELECT doc_id,
           sha256(text)                    AS sha256,
           octet_length(encode(text))      AS n_bytes
    FROM documents
    """,
)
def doc_payload_features(spark, sf_dir):
    """Treats each doc's UTF-8 bytes as an opaque binary payload and
    reports its sha256 and byte length — JVM-side ``sha2``/``length``,
    the same functions as the oracle (text is not an image, so no media
    decoder runs)."""
    payload = F.encode("text", "UTF-8")
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.sha2(payload, 256).alias("sha256"),
        F.length(payload).cast("long").alias("n_bytes"),
    )


# ---------------------------------------------------------------------------
# Embedding near-dup pairs via sign-LSH buckets (dedup x similarity)
# ---------------------------------------------------------------------------
@register(
    "embedding_near_dup_pairs",
    f"""
    WITH b AS (SELECT vec_id, embedding,
                      {sim.hyperplane_bucket_sql('embedding')} AS bucket
               FROM embeddings)
    SELECT a.vec_id AS id_a, c.vec_id AS id_b,
           ROUND({sim._cos_sql('a.embedding', 'c.embedding')}, 6) AS cos_sim
    FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
    WHERE {sim._cos_sql('a.embedding', 'c.embedding')} >= 0.3
    """,
)
def embedding_near_dup_pairs(spark, sf_dir):
    """Embedding-cosine near-dup: candidate pairs from a shared seeded
    random-hyperplane LSH bucket, kept when cosine >= 0.3 — the vector twin
    of minhash_lsh_pairs."""
    em = _t(spark, sf_dir, "embeddings")
    # the bucketed table materializes ONCE: the self-join's two sides
    # otherwise each run their own Arrow hyperplane kernel over the full
    # vector table (the round-12 Arrow-repetition sweep read 2 executed
    # kernels/job; the simhash pair query pins the same trade) — the
    # kernel's Python round-trip is the expensive half, the checkpoint
    # bytes are the input plus one int
    b = sim.with_hyperplane_buckets(
        em.select("vec_id", "embedding")
    ).transform(lineage_cut)
    a = b.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"), "bucket"
    )
    c = b.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"), "bucket"
    )
    cos = sim.cosine(F.col("ea"), F.col("eb"))
    return (
        a.join(c, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cos >= 0.3)
        .select("id_a", "id_b", F.round(cos, 6).alias("cos_sim"))
    )


# ---------------------------------------------------------------------------
# Rows-only entries (genuinely non-SQL-expressible paths; driver records a
# weaker rows-only check — SURVEY §2.10 U4, §2.4 approx aggregates)
# ---------------------------------------------------------------------------
@register("ann_cosine_topk_arrow", sim.cosine_topk_oracle_sql(k=5, n_queries=5))
def ann_cosine_topk_arrow(spark, sf_dir):
    """Same result as ann_cosine_topk through the Arrow/numpy kernel (one
    BLAS matmul per batch × query set) — the wide-embedding scale path,
    held to the same DuckDB oracle."""
    em = _t(spark, sf_dir, "embeddings")
    queries = em.filter(F.col("vec_id") < 5)
    return sim.cosine_topk_arrow(em, queries, k=5)


# ---------------------------------------------------------------------------
# U5 — ML scoring as a distributed DataFrame stage. Training is Spark ML
# (ml.train_classifier, pytest-verified: seed-deterministic RandomForest,
# gold_war_etl_dag.py:158-181); the GATED query is batch inference of a
# fixed-weight linear model — the oracle-expressible half of train/score.
# The margin's sign is the class (z >= 0 ⇔ sigmoid >= 0.5); no exp in the
# hashed output because libm exp is not cross-engine bit-stable.
# ---------------------------------------------------------------------------
_ML_FEATS = ("value", "hour_of_day")
_ML_WEIGHTS = (0.002, -0.125)
_ML_BIAS = 0.25


@register(
    "ml_linear_scores",
    f"""
    WITH feats AS (
        SELECT event_id, value,
               CAST(strftime(ts, '%H') AS DOUBLE) AS hour_of_day
        FROM events)
    SELECT event_id,
           ROUND({ml.linear_margin_sql(_ML_FEATS, _ML_WEIGHTS, _ML_BIAS)}, 6)
             AS margin,
           CASE WHEN {ml.linear_margin_sql(_ML_FEATS, _ML_WEIGHTS, _ML_BIAS)} >= 0
                THEN 1 ELSE 0 END AS pred
    FROM feats
    """,
)
def ml_linear_scores(spark, sf_dir):
    """Distributed batch inference of a trained linear classifier (fixed
    coefficients): margin + class per event, pure JVM column algebra — the
    scoring half of U5 (train half: ml.train_classifier, seed-pinned
    RandomForest over the goldwar training table, pytest-verified)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "value",
        F.date_format("ts", "HH").cast("double").alias("hour_of_day"),
    )
    z = ml.linear_margin(_ML_FEATS, _ML_WEIGHTS, _ML_BIAS)
    return ev.select(
        "event_id",
        F.round(z, 6).alias("margin"),
        F.when(z >= 0, 1).otherwise(0).alias("pred"),
    )


@register(
    "exact_dedup_survivors",
    """
    WITH h AS (
        SELECT doc_id,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS ch
        FROM documents)
    SELECT doc_id FROM h
    WHERE doc_id = (SELECT MIN(doc_id) FROM h h2 WHERE h2.ch = h.ch)
    """,
)
def exact_dedup_survivors(spark, sf_dir):
    """Survivor set after exact dedup: keep the min doc_id per content
    hash — the materialized 'deduplicated corpus' output."""
    d = _t(spark, sf_dir, "documents")
    groups = dd.exact_dedup_groups(d)
    return groups.select(F.col("canonical_id").alias("doc_id"))


@register(
    "near_dup_survivors",
    """
    WITH norm AS (
        SELECT doc_id, lang,
               string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS ws
        FROM documents),
    gidx AS (
        SELECT doc_id, lang,
               unnest(CASE WHEN len(ws) >= 3 THEN range(1, len(ws) - 1) ELSE [] END) AS i,
               ws
        FROM norm),
    gram_rows AS (
        SELECT DISTINCT doc_id, lang, ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS g
        FROM gidx),
    gsets AS (
        SELECT doc_id, lang, list_distinct(list(g)) AS grams
        FROM gram_rows GROUP BY doc_id, lang),
    losers AS (
        SELECT DISTINCT b.doc_id
        FROM gsets a JOIN gsets b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.grams, b.grams))::DOUBLE
              / (len(a.grams) + len(b.grams)
                 - len(list_intersect(a.grams, b.grams))) >= 0.5)
    SELECT d.doc_id, d.lang FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
    """,
)
def near_dup_survivors_q(spark, sf_dir):
    """Deduplicated corpus after near-dup removal: greedy keep-lowest-id
    over the blocked Jaccard pairs (anti-join materialization)."""
    d = _t(spark, sf_dir, "documents")
    pairs = dd.ngram_jaccard_pairs(d, block_col="lang", threshold=0.5)
    return dd.near_dup_survivors(d, pairs).select("doc_id", "lang")


@register(
    "doc_decontamination",
    dd.contamination_oracle_sql(
        corpus_pred="source <> 'src0'", benchmark_pred="source = 'src0'", n=3
    ),
)
def doc_decontamination(spark, sf_dir):
    """Benchmark decontamination: src0 plays the held-out eval suite; every
    other doc is scored by how many distinct trigrams it shares with it.
    Broadcast benchmark gram digests, one corpus scan, matches-only
    shuffle."""
    d = _t(spark, sf_dir, "documents")
    return dd.contamination_hits(
        d.filter(F.col("source") != "src0"), d.filter(F.col("source") == "src0"), n=3
    )


@register(
    "incremental_dedup_new_docs",
    """
    WITH hashed AS (
        SELECT doc_id,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                   AS content_hash,
               doc_id % 5 = 0 AS in_index
        FROM documents),
    index_hashes AS (SELECT DISTINCT content_hash FROM hashed WHERE in_index),
    firsts AS (
        SELECT MIN(doc_id) AS doc_id, content_hash
        FROM hashed WHERE NOT in_index GROUP BY content_hash)
    SELECT doc_id, content_hash FROM firsts
    WHERE content_hash NOT IN (SELECT content_hash FROM index_hashes)
    """,
)
def incremental_dedup_new_docs(spark, sf_dir):
    """Incremental ingest dedup: docs with id % 5 == 0 play the persisted
    corpus index; the rest arrive as a new batch and survive only if
    first-in-batch AND absent from the index. Digest-only shuffles."""
    d = _t(spark, sf_dir, "documents")
    return dd.incremental_dedup(
        d.filter(F.col("doc_id") % 5 != 0), d.filter(F.col("doc_id") % 5 == 0)
    )


@register("doc_token_chunks", tx.token_chunks_oracle_sql(size=50, stride=40))
def doc_token_chunks(spark, sf_dir):
    """Context-window chunking: 50-token windows every 40 tokens (10-token
    overlap) per doc — shuffle-free explode; chunk identity travels as an
    md5, never text."""
    return tx.token_chunks(_t(spark, sf_dir, "documents"), size=50, stride=40)


@register(
    "lang_quota_sample",
    f"""
    WITH ranked AS (
        SELECT lang, doc_id,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM documents)
    SELECT lang, doc_id, rk FROM ranked WHERE rk <= 20
    """,
)
def lang_quota_sample(spark, sf_dir):
    """Language rebalancing: deterministic 20-doc quota per language by
    content-addressed hash order (stable under repartitioning — no rand())."""
    d = _t(spark, sf_dir, "documents")
    return smp.quota_sample(d, "lang", "doc_id", n_per_group=20).select(
        "lang", "doc_id", "rk"
    )


@register(
    "doc_source_mixture",
    smp.mixture_sample_sql({"src0": 3, "src1": 2, "src2": 1}),
)
def doc_source_mixture(spark, sf_dir):
    """Pre-training data mixture: resample sources to exact 3:2:1 parts —
    the largest corpus every source can serve at those proportions,
    chosen by hash order. Integer-only quota arithmetic; one tiny count
    aggregate broadcast back, one rank shuffle."""
    d = _t(spark, sf_dir, "documents")
    return smp.mixture_sample(
        d, "source", {"src0": 3, "src1": 2, "src2": 1}, "doc_id"
    ).select("source", "doc_id", "rk")


@register("doc_packed_sequences", tx.pack_sequences_oracle_sql(seq_len=512))
def doc_packed_sequences(spark, sf_dir):
    """Concat-and-split sequence packing: each doc's start bin/offset in
    the packed 512-token training stream. Global prefix-sum as bucketed
    cumsum + broadcast bucket offsets — never a corpus-wide ordered
    partition."""
    return tx.pack_sequences(_t(spark, sf_dir, "documents"), seq_len=512)


@register(
    "dedup_cluster_assignment",
    r"""
    WITH RECURSIVE norm AS (
        SELECT doc_id, lang,
               string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
        FROM documents),
    gidx AS (
        SELECT doc_id, lang,
               unnest(CASE WHEN len(ws) >= 3 THEN range(1, len(ws) - 1) ELSE [] END) AS i,
               ws
        FROM norm),
    gram_rows AS (
        SELECT DISTINCT doc_id, lang, ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS g
        FROM gidx),
    gsets AS (
        SELECT doc_id, lang, list_distinct(list(g)) AS grams
        FROM gram_rows GROUP BY doc_id, lang),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM gsets a JOIN gsets b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.grams, b.grams))::DOUBLE
              / (len(a.grams) + len(b.grams)
                 - len(list_intersect(a.grams, b.grams))) >= 0.5),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
    reach AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
    SELECT a AS doc_id, LEAST(a, MIN(b)) AS canonical_id FROM reach GROUP BY a
    """,
)
def dedup_cluster_assignment(spark, sf_dir):
    """Connected-components canonicalization over the near-dup pair graph.

    Spark side: iterative min-label propagation (one join + one agg per
    round, lineage truncated via localCheckpoint) — the scalable pattern
    for 100 TB dup graphs where transitive closure is infeasible. Oracle:
    DuckDB recursive-CTE transitive closure (fine at sf0.01 where the
    pair graph is tiny), so the gate hash-checks cluster assignments."""
    d = _t(spark, sf_dir, "documents")
    pairs = dd.ngram_jaccard_pairs(d, block_col="lang", threshold=0.5)
    return dd.dedup_clusters(pairs)


@register(
    "top_words",
    """
    WITH words AS (
        SELECT unnest(string_split(
            regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS w
        FROM documents)
    SELECT w, COUNT(*) AS n FROM words GROUP BY w
    ORDER BY n DESC, w LIMIT 20
    """,
)
def top_words(spark, sf_dir):
    """Distributed wordcount top-k: explode normalized tokens → count →
    global top-20 (deterministic ties by word). The canonical
    explode-shuffle-aggregate shape."""
    from .operators.dedup import normalized_text

    d = _t(spark, sf_dir, "documents")
    words = d.select(F.explode(F.split(normalized_text("text"), " ")).alias("w"))
    return (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("w").asc())
        .limit(20)
    )


@register(
    "user_sessions",
    """
    WITH o AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    s AS (
        SELECT user_id, ts,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM o)
    SELECT user_id,
           epoch_us(MIN(ts)) AS session_start_us,
           epoch_us(MAX(ts)) AS session_end_us,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def user_sessions(spark, sf_dir):
    """Sessionization: 30-minute inactivity gap via session_window —
    verified against the gaps-and-islands SQL formulation (a new session
    starts when the gap is >= 30min, matching Spark's half-open
    [start, last+gap) merge rule)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("sw"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.unix_micros(F.min("ts")).alias("session_start_us"),
            F.unix_micros(F.max("ts")).alias("session_end_us"),
        )
        .select("user_id", "session_start_us", "session_end_us", "n_events")
    )


@register(
    "llm_extract_structured",
    r"""
    WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 50),
    calc AS (
        SELECT doc_id, text,
            (COALESCE(list_sum(list_transform(string_split(text, ''),
                                              c -> unicode(c))), 0)::BIGINT
             % 40) - 10 AS h,
            string_split(text, ',')[1] AS head
        FROM base)
    SELECT doc_id, text,
           CASE WHEN head = '' OR head IS NULL THEN 'unknown'
                ELSE substr(head, 1, 64) END AS city_label,
           '2024-01-01' AS observation_date,
           h::DOUBLE AS temp_c_current,
           (h + 3)::DOUBLE AS temp_c_max,
           (h - 3)::DOUBLE AS temp_c_min,
           'mock conditions' AS conditions_short,
           CAST(0.0 AS DOUBLE) AS precipitation_mm
    FROM calc
    """,
)
def llm_extract_structured(spark, sf_dir):
    """LLM unstructured→struct extraction over documents (weather_ollama
    mock-mode pattern): mapInPandas extractor → from_json → flatten. The
    production extractor is an external model call (rows-only by nature);
    the deterministic mock IS SQL-expressible, so the gate hash-checks the
    whole mapInPandas→from_json→flatten plumbing end-to-end."""
    from .operators.llm import extract_structured

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return extract_structured(d, text_col="text", id_col="doc_id")


@register("approx_daily_users", None)
def approx_daily_users(spark, sf_dir):
    """HyperLogLog++ distinct users per day — the 100 TB cardinality path.
    BY DESIGN the registry's only no-oracle row (rows-only gate): HLL
    register layouts differ per engine, so the estimate cannot hash-gate.
    The DESIGNED pairing: exact twin = daily_active_users (same report,
    exact distinct), hash-gated sketch twin = kmv_daily_users (KMV
    k-smallest md5 — estimate derived from engine-independent hashes, so
    it DOES hash-gate). Use this one when only Spark-native speed matters,
    KMV when cross-engine reproducibility matters."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("date")).agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_dau")
    )


# ---------------------------------------------------------------------------
# Classic OLAP shapes beyond the reference's literal surface: exact
# percentiles, pivot, correlated min-per-group, multi-dimension-path join,
# EXISTS semi-join aggregate. All Catalyst built-ins — listed so the engine's
# SQL surface is demonstrably wider than the course's pandas ops.
# ---------------------------------------------------------------------------
@register(
    "event_value_percentiles",
    """
    SELECT event_type,
           ROUND(quantile_cont(value, 0.25), 6) AS p25,
           ROUND(quantile_cont(value, 0.50), 6) AS p50,
           ROUND(quantile_cont(value, 0.75), 6) AS p75,
           COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
)
def event_value_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per group (Spark `percentile` ==
    DuckDB `quantile_cont`). The exact path; percentile_approx is the
    sketch twin at 100 TB when a full sort-per-group is unaffordable."""
    ev = _t(spark, sf_dir, "events")
    pct = F.percentile("value", F.lit([0.25, 0.5, 0.75]))
    return ev.groupBy("event_type").agg(
        F.round(F.element_at(pct, 1), 6).alias("p25"),
        F.round(F.element_at(pct, 2), 6).alias("p50"),
        F.round(F.element_at(pct, 3), 6).alias("p75"),
        F.count(F.lit(1)).alias("n"),
    )


_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


@register(
    "order_priority_pivot",
    """
    SELECT o_orderstatus,
           COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS urgent,
           COUNT(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS high,
           COUNT(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS medium,
           COUNT(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END) AS unspecified,
           COUNT(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS low
    FROM orders GROUP BY o_orderstatus
    """,
)
def order_priority_pivot(spark, sf_dir):
    """Pivot (long→wide conditional aggregation) with an EXPLICIT value
    list — implicit pivot would scan distinct values first (extra job) and
    produce non-deterministic column order."""
    o = _t(spark, sf_dir, "orders")
    wide = o.groupBy("o_orderstatus").pivot("o_orderpriority", _PRIORITIES).count()
    names = ["urgent", "high", "medium", "unspecified", "low"]
    return wide.select(
        "o_orderstatus",
        *[
            F.coalesce(F.col(f"`{p}`"), F.lit(0)).alias(a)
            for p, a in zip(_PRIORITIES, names)
        ],
    )


@register(
    "min_cost_supplier_per_part",
    """
    WITH m AS (
        SELECT l_partkey, MIN(l_extendedprice) AS min_price
        FROM lineitem GROUP BY l_partkey)
    SELECT m.l_partkey AS partkey,
           ROUND(m.min_price, 2) AS min_price,
           MIN(l.l_suppkey) AS suppkey
    FROM m JOIN lineitem l
      ON l.l_partkey = m.l_partkey AND l.l_extendedprice = m.min_price
    GROUP BY m.l_partkey, m.min_price
    """,
)
def min_cost_supplier_per_part(spark, sf_dir):
    """Correlated min-per-group join-back (TPC-H Q2 shape): cheapest
    supplier per part, ties to the lowest suppkey. Same-key groupBy then
    self-join — AQE reuses the shuffle partitioning, no extra exchange."""
    li = _t(spark, sf_dir, "lineitem")
    m = li.groupBy("l_partkey").agg(F.min("l_extendedprice").alias("min_price"))
    return (
        m.join(li, ["l_partkey"])
        .filter(F.col("l_extendedprice") == F.col("min_price"))
        .groupBy("l_partkey", "min_price")
        .agg(F.min("l_suppkey").alias("suppkey"))
        .select(
            F.col("l_partkey").alias("partkey"),
            F.round("min_price", 2).alias("min_price"),
            "suppkey",
        )
    )


@register(
    "nation_trade_flow",
    """
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                          AS DECIMAL(18,6))), 2)::DOUBLE AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
    GROUP BY cn.n_name, sn.n_name
    """,
)
def nation_trade_flow(spark, sf_dir):
    """TPC-H Q7 shape: revenue by (customer nation × supplier nation) —
    one genuine fact-to-fact shuffle join (lineitem×orders) plus two
    broadcast dimension paths hanging off each side."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = F.broadcast(_t(spark, sf_dir, "customer"))
    s = F.broadcast(_t(spark, sf_dir, "supplier"))
    n = _t(spark, sf_dir, "nation")
    cn = F.broadcast(n.select(F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("cust_nation")))
    sn = F.broadcast(n.select(F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation")))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(cn, c.c_nationkey == F.col("cnk"))
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(sn, s.s_nationkey == F.col("snk"))
        .groupBy("cust_nation", "supp_nation")
        .agg(
            # decimal accumulation: exact, summation-order-independent —
            # float sums can differ in the last 2dp digit across engines.
            # Round the exact decimal, then cast: rounding the double
            # splits at a half cent (Spark rounds the double's shortest
            # decimal form half-up, DuckDB the binary value just below).
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,6)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "late_shipment_priority",
    """
    SELECT o.o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o.o_orderpriority
    """,
)
def late_shipment_priority(spark, sf_dir):
    """TPC-H Q4 shape: EXISTS → left-semi join (never a count-changing
    inner join), then the priority tally."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.date_add(o.o_orderdate, 60)),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n_orders"))


@register("doc_winnowed_fingerprints", dd.winnowed_oracle_sql())
def doc_winnowed_fingerprints(spark, sf_dir):
    """Winnowing (MOSS-style rolling-hash fingerprinting): word-level
    k-gram rolling hash, min per w-window, distinct per doc. The
    local-fingerprint twin of simhash/minhash — any shared run of
    >= k+w-1 words between two docs shares a fingerprint."""
    d = _t(spark, sf_dir, "documents")
    return dd.winnowed_fingerprints(d)


@register(
    "daily_revenue_moving_avg",
    """
    WITH daily AS (
        SELECT strftime(o_orderdate, '%Y-%m-%d') AS date,
               ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4)))::DOUBLE, 2) AS revenue
        FROM orders GROUP BY 1)
    SELECT date, revenue,
           ROUND(AVG(revenue) OVER (ORDER BY date
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS ma7
    FROM daily
    """,
)
def daily_revenue_moving_avg(spark, sf_dir):
    """7-day moving average over daily revenue — explicit rows-between
    frame spec. The outer window is unpartitioned BUT runs over the
    already-aggregated daily table (one row per day), so the single-
    partition sort is bounded by calendar days, not data volume."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("date")
    ).agg(
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double"), 2
        ).alias("revenue")
    )
    w = Window.orderBy("date").rowsBetween(-6, 0)
    return daily.select(
        "date", "revenue", F.round(F.avg("revenue").over(w), 6).alias("ma7")
    )


@register(
    "customer_snapshot_diff",
    """
    WITH old AS (
        SELECT o_custkey, COUNT(*) AS n_orders,
               ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4)))::DOUBLE, 2) AS total
        FROM orders WHERE o_orderdate < DATE '1997-01-01' GROUP BY o_custkey),
    new AS (
        SELECT o_custkey, COUNT(*) AS n_orders,
               ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4)))::DOUBLE, 2) AS total
        FROM orders WHERE o_orderdate < DATE '1998-01-01' GROUP BY o_custkey)
    SELECT COALESCE(new.o_custkey, old.o_custkey) AS o_custkey,
           old.n_orders AS old_n_orders, old.total AS old_total,
           new.n_orders AS new_n_orders, new.total AS new_total,
           CASE WHEN old.o_custkey IS NULL THEN 'added'
                WHEN new.o_custkey IS NULL THEN 'removed'
                WHEN old.n_orders IS DISTINCT FROM new.n_orders
                     OR old.total IS DISTINCT FROM new.total THEN 'changed'
           END AS change_type
    FROM old FULL OUTER JOIN new ON old.o_custkey = new.o_custkey
    WHERE CASE WHEN old.o_custkey IS NULL THEN 'added'
               WHEN new.o_custkey IS NULL THEN 'removed'
               WHEN old.n_orders IS DISTINCT FROM new.n_orders
                    OR old.total IS DISTINCT FROM new.total THEN 'changed'
          END IS NOT NULL
    """,
)
def customer_snapshot_diff(spark, sf_dir):
    """CDC snapshot diff: per-customer order totals at two orderdate
    cutoffs → added/removed/changed keys (incremental-recompute audit,
    the reference's upsert pattern made declarative)."""
    from .operators.upsert import snapshot_diff

    o = _t(spark, sf_dir, "orders")

    def snap(cutoff):
        return (
            o.filter(F.col("o_orderdate") < F.lit(cutoff).cast("timestamp"))
            .groupBy("o_custkey")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.round(
                    F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast(
                        "double"
                    ),
                    2,
                ).alias("total"),
            )
        )

    return snapshot_diff(
        snap("1997-01-01"), snap("1998-01-01"), ["o_custkey"], ["n_orders", "total"]
    )


_HIST_BINS, _HIST_LO, _HIST_HI = 20, 0.0, 500.0


@register(
    "event_value_histogram",
    f"""
    SELECT event_type,
           LEAST(CAST(FLOOR((value - {_HIST_LO}) / (({_HIST_HI} - {_HIST_LO})
                 / {_HIST_BINS})) AS BIGINT), {_HIST_BINS - 1}) AS bucket,
           COUNT(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def event_value_histogram(spark, sf_dir):
    """Fixed-width histogram per group (20 bins over [0, 500)) — explicit
    bucket arithmetic, one partial-aggregated shuffle; the building block
    for distribution profiling over 100 TB without a sort."""
    ev = _t(spark, sf_dir, "events")
    width = (_HIST_HI - _HIST_LO) / _HIST_BINS
    bucket = F.least(
        F.floor((F.col("value") - _HIST_LO) / width).cast("long"),
        F.lit(_HIST_BINS - 1),
    )
    return ev.groupBy("event_type", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "cohort_retention",
    """
    WITH firsts AS (
        SELECT user_id, MIN(strftime(ts, '%Y-%m-%d')) AS cohort_date
        FROM events GROUP BY user_id),
    activity AS (
        SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS active_date
        FROM events)
    SELECT f.cohort_date,
           CAST(date_diff('day', cohort_date::DATE, active_date::DATE) AS BIGINT) AS day_offset,
           COUNT(DISTINCT a.user_id) AS n_active
    FROM firsts f JOIN activity a ON f.user_id = a.user_id
    GROUP BY 1, 2
    """,
)
def cohort_retention(spark, sf_dir):
    """Cohort retention triangle: users grouped by first-seen day; for
    each (cohort, day-offset) the count of still-active users. Two
    aggregations over the same user_id shuffle key — Catalyst reuses the
    partitioning for the self-join."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.date_format("ts", "yyyy-MM-dd").alias("d")
    )
    firsts = ev.groupBy("user_id").agg(F.min("d").alias("cohort_date"))
    activity = ev.distinct().withColumnRenamed("d", "active_date")
    return (
        firsts.join(activity, "user_id")
        .groupBy(
            "cohort_date",
            F.datediff(
                F.to_date("active_date"), F.to_date("cohort_date")
            ).cast("long").alias("day_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_active"))
    )


@register(
    "purchase_funnel",
    """
    WITH stages AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
               MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        FROM events GROUP BY user_id)
    SELECT COUNT(CASE WHEN t_view IS NOT NULL THEN 1 END) AS viewed,
           COUNT(CASE WHEN t_view IS NOT NULL AND t_click > t_view THEN 1 END) AS clicked_after_view,
           COUNT(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                       AND t_purchase > t_click THEN 1 END) AS purchased_after_click
    FROM stages
    """,
)
def purchase_funnel(spark, sf_dir):
    """Ordered funnel (view → click → purchase): conditional-min per stage
    in ONE aggregation pass, then ordering predicates — no joins, no
    window sort; the scalable funnel formulation."""
    ev = _t(spark, sf_dir, "events")
    stage = lambda t: F.min(F.when(F.col("event_type") == t, F.col("ts")))  # noqa: E731
    stages = ev.groupBy("user_id").agg(
        stage("view").alias("t_view"),
        stage("click").alias("t_click"),
        stage("purchase").alias("t_purchase"),
    )
    viewed = F.col("t_view").isNotNull()
    clicked = viewed & (F.col("t_click") > F.col("t_view"))
    purchased = clicked & (F.col("t_purchase") > F.col("t_click"))
    return stages.agg(
        F.count(F.when(viewed, 1)).alias("viewed"),
        F.count(F.when(clicked, 1)).alias("clicked_after_view"),
        F.count(F.when(purchased, 1)).alias("purchased_after_click"),
    )


@register(
    "daily_stats_unpivot",
    """
    WITH daily AS (
        SELECT strftime(ts, '%Y-%m-%d') AS date,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(38,12))) AS DOUBLE)
                     / COUNT(value), 6) AS avg_value,
               ROUND(MIN(value), 6) AS min_value,
               ROUND(MAX(value), 6) AS max_value
        FROM events GROUP BY 1)
    SELECT date, metric, val FROM daily
    UNPIVOT (val FOR metric IN (avg_value, min_value, max_value))
    """,
)
def daily_stats_unpivot(spark, sf_dir):
    """Unpivot (wide→long melt) of a daily stats table — the inverse of
    order_priority_pivot, via the native stack()/unpivot operator."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("date")).agg(
        F.round(agg.decimal_avg(F.col("value")), 6).alias("avg_value"),
        F.round(F.min("value"), 6).alias("min_value"),
        F.round(F.max("value"), 6).alias("max_value"),
    )
    return daily.unpivot(
        "date", ["avg_value", "min_value", "max_value"], "metric", "val"
    )


@register(
    "fuzzy_part_name_pairs",
    """
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           levenshtein(a.p_name, b.p_name) AS edit_dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 2
      AND a.p_name <> b.p_name
    """,
)
def fuzzy_part_name_pairs(spark, sf_dir):
    """Blocked fuzzy join: near-identical part names (edit distance ≤ 2)
    within a brand block, via PassJoin segment indexing
    (operators/joins.py::edit_distance_pairs): each name splits into d+1
    contiguous segments and candidates come from an EQUI-join on
    (brand, |name|, segment) — O(n·const) index rows instead of the
    O(block²) cross product — before the THRESHOLDED levenshtein
    (early-exits past distance 2) verifies only real candidates. The
    shuffle carries short substring keys, never the pair matrix — the
    entity-resolution shape that survives 100 TB."""
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand")
    return jn.edit_distance_pairs(
        p, id_col="p_partkey", str_col="p_name", block_col="p_brand", d=2
    )


@register(
    "doc_train_val_test_split",
    f"""
    SELECT {smp.split_sql('doc_id')} AS split,
           lang, COUNT(*) AS n_docs
    FROM documents GROUP BY 1, 2
    """,
)
def doc_train_val_test_split(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test split keyed on doc_id
    (content-addressed — stable under repartitioning/retries, no RNG;
    replaces the reference's process-local train_test_split). Returns
    split×lang counts for auditability."""
    d = _t(spark, sf_dir, "documents")
    return smp.with_split(d, "doc_id").groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


@register(
    "event_stratified_sample_stats",
    f"""
    SELECT event_type, COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(38,12))) AS DOUBLE)
                 / COUNT(value), 6) AS avg_value
    FROM events
    WHERE {smp.hash_bucket_sql('event_id')} < 10
    GROUP BY event_type
    """,
)
def event_stratified_sample_stats(spark, sf_dir):
    """Deterministic 10% hash sample (bucket < 10 of 100 on event_id) —
    the reproducible TABLESAMPLE replacement; the filter runs before the
    aggregate so the sample never materializes."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(smp.hash_bucket(F.col("event_id")) < 10)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(agg.decimal_avg(F.col("value")), 6).alias("avg_value"),
        )
    )


@register(
    "click_purchase_attribution",
    """
    WITH c AS (SELECT user_id, ts AS cts FROM events WHERE event_type = 'click'),
         p AS (SELECT user_id, ts AS pts, value FROM events WHERE event_type = 'purchase')
    SELECT c.user_id,
           epoch_us(cts) AS click_us,
           epoch_us(pts) AS purchase_us,
           p.value AS purchase_value
    FROM c JOIN p ON c.user_id = p.user_id
     AND pts >= cts AND pts <= cts + INTERVAL 30 MINUTE
    """,
)
def click_purchase_attribution(spark, sf_dir):
    """Batch range join (attribution): every purchase matched to clicks by
    the same user in the preceding 30 minutes — the batch twin of
    streaming.stream_stream_interval_join, hash-checked by the gate. The
    equi-key (user_id) carries the shuffle; the range predicate filters
    within each key group."""
    ev = _t(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("pts"),
        F.col("value").alias("purchase_value"),
    )
    return (
        c.join(
            p,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("pts") >= F.col("cts"))
            & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 30 minutes")),
        )
        .select(
            "user_id",
            F.unix_micros("cts").alias("click_us"),
            F.unix_micros("pts").alias("purchase_us"),
            "purchase_value",
        )
    )


@register(
    "customer_value_quartiles",
    """
    WITH t AS (
        SELECT c_mktsegment, c_custkey, c_acctbal,
               ntile(4) OVER (PARTITION BY c_mktsegment
                              ORDER BY c_acctbal, c_custkey) AS quartile
        FROM customer)
    SELECT c_mktsegment, quartile,
           COUNT(*) AS n,
           ROUND(MIN(c_acctbal), 2) AS lo,
           ROUND(MAX(c_acctbal), 2) AS hi
    FROM t GROUP BY 1, 2
    """,
)
def customer_value_quartiles(spark, sf_dir):
    """ntile quartile assignment per segment (deterministic tie-break on
    custkey), then per-quartile bounds — the windowed bucketing pattern."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return (
        c.withColumn("quartile", F.ntile(4).over(w))
        .groupBy("c_mktsegment", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("c_acctbal"), 2).alias("lo"),
            F.round(F.max("c_acctbal"), 2).alias("hi"),
        )
    )


@register(
    "lineitem_price_discount_corr",
    """
    SELECT l_returnflag,
           ROUND(corr(l_extendedprice, l_discount), 6) AS price_discount_corr,
           ROUND(covar_samp(l_extendedprice, l_quantity), 2) AS price_qty_cov,
           ROUND(stddev_samp(l_extendedprice), 4) AS price_std
    FROM lineitem GROUP BY l_returnflag
    """,
)
def lineitem_price_discount_corr(spark, sf_dir):
    """Statistical aggregates (corr / sample covariance / stddev) per
    group — single partial-aggregated pass, no second scan."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_extendedprice", "l_discount"), 6).alias(
            "price_discount_corr"
        ),
        F.round(F.covar_samp("l_extendedprice", "l_quantity"), 2).alias(
            "price_qty_cov"
        ),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("price_std"),
    )


@register(
    "order_status_grouping_sets",
    """
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           COUNT(*) AS n,
           ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4)))::DOUBLE, 2) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                            (o_orderstatus, o_orderpriority))
    """,
)
def order_status_grouping_sets(spark, sf_dir):
    """Arbitrary GROUPING SETS (not derivable from rollup/cube): status
    margins, priority margins, and the full cross — one pass, Spark
    expands to a single aggregate over the grouping-id."""
    o = _t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("_gs_orders")
    return o.sparkSession.sql(
        """
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               COUNT(*) AS n,
               ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS total
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                (o_orderstatus, o_orderpriority))
        """
    )


@register(
    "region_nation_listing",
    """
    SELECT r.r_name AS region,
           string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations,
           COUNT(*) AS n_nations
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def region_nation_listing(spark, sf_dir):
    """Ordered string aggregation (listagg): deterministic via
    sort_array(collect_list) — collect_list alone is partition-order-
    dependent and would break under any repartitioning."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias(
                "nations"
            ),
            F.count(F.lit(1)).alias("n_nations"),
        )
    )


@register(
    "doc_number_extraction",
    r"""
    SELECT doc_id,
           len(regexp_extract_all(text, '[0-9]+')) AS n_numbers,
           COALESCE(TRY_CAST(regexp_extract(text, '([0-9]+)', 1) AS BIGINT), -1)
               AS first_number
    FROM documents
    """,
)
def doc_number_extraction(spark, sf_dir):
    """Regex extraction suite: count of numeric tokens + first numeric
    value per doc (regexp_extract_all / regexp_extract, JVM-side)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(r"[0-9]+"))).alias("n_numbers"),
        F.coalesce(
            F.try_element_at(
                F.regexp_extract_all("text", F.lit(r"([0-9]+)"), 1), F.lit(1)
            ).cast("long"),
            F.lit(-1),
        ).alias("first_number"),
    )


@register(
    "top_value_ranks_with_ties",
    """
    WITH r AS (
        SELECT event_type, event_id, value,
               RANK() OVER (PARTITION BY event_type ORDER BY value DESC) AS rnk,
               DENSE_RANK() OVER (PARTITION BY event_type ORDER BY value DESC) AS drnk
        FROM events)
    SELECT event_type, event_id, value, rnk, drnk
    FROM r WHERE rnk <= 3
    """,
)
def top_value_ranks_with_ties(spark, sf_dir):
    """rank vs dense_rank top-3 per group — tie-INCLUSIVE top-k (row_number
    top-k drops ties; rank keeps them, the auditable variant)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.col("value").desc())
    return (
        ev.select(
            "event_type",
            "event_id",
            "value",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
        )
        .filter(F.col("rnk") <= 3)
    )


@register(
    "brand_revenue_share",
    """
    WITH b AS (
        SELECT p.p_brand,
               SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                        AS DECIMAL(18,6))) AS rev
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY p.p_brand)
    SELECT p_brand,
           ROUND(rev::DOUBLE, 2) AS revenue,
           ROUND((rev / SUM(rev) OVER ())::DOUBLE, 6) AS share
    FROM b
    """,
)
def brand_revenue_share(spark, sf_dir):
    """Ratio-to-report: per-brand revenue share via an unpartitioned window
    sum OVER the aggregated table (25 brand rows — the window runs over the
    agg output, never the fact table). Decimal accumulation end-to-end so
    both the total and every share are summation-order-independent."""
    li = _t(spark, sf_dir, "lineitem")
    p = F.broadcast(_t(spark, sf_dir, "part").select("p_partkey", "p_brand"))
    b = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,6)"
                )
            ).alias("rev")
        )
    )
    w = Window.partitionBy()
    return b.select(
        "p_brand",
        F.round(F.col("rev").cast("double"), 2).alias("revenue"),
        F.round((F.col("rev") / F.sum("rev").over(w)).cast("double"), 6).alias(
            "share"
        ),
    )


@register(
    "value_outliers_by_type",
    """
    WITH raw AS (
        SELECT event_type,
               CAST(SUM(CAST(value AS DECIMAL(38,12))) AS DOUBLE)
                 / COUNT(value) AS mu,
               CAST(SUM(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE) AS ssq,
               COUNT(value) AS n
        FROM events GROUP BY event_type),
         s AS (
        SELECT event_type, mu,
               SQRT((ssq - CAST(n AS DOUBLE) * mu * mu) / (n - 1)) AS sigma
        FROM raw)
    SELECT e.event_type,
           COUNT(*) AS n_outliers,
           ROUND(MIN(e.value), 6) AS min_outlier,
           ROUND(MAX(e.value), 6) AS max_outlier
    FROM events e JOIN s ON e.event_type = s.event_type
    WHERE ABS(e.value - s.mu) > 2.5 * s.sigma
    GROUP BY e.event_type
    """,
)
def value_outliers_by_type(spark, sf_dir):
    """Z-score outlier detection per group (data-quality gate for training
    pipelines): tiny per-group stats aggregate broadcast back against the
    fact scan — two passes over events, no window sort."""
    ev = _t(spark, sf_dir, "events")
    # Decimal-sum mu / explicit two-moment sigma: bit-stable under any
    # partitioning, unlike AVG/stddev_samp over doubles, so the threshold
    # predicate below can't flip rows across runs (float discipline).
    v = F.col("value")
    s = (
        ev.groupBy(F.col("event_type").alias("s_type"))
        .agg(
            agg.decimal_avg(v).alias("mu"),
            F.sum((v * v).cast("decimal(38,12)")).cast("double").alias("ssq"),
            F.count(v).alias("n"),
        )
        .select(
            "s_type",
            "mu",
            # try_divide: a 1-event group has n-1 = 0 — ANSI throws where
            # the DuckDB twin yields NULL sigma (whose outlier predicate
            # then excludes the group, the right call for a sample of 1)
            F.sqrt(
                F.try_divide(
                    F.col("ssq")
                    - F.col("n").cast("double") * F.col("mu") * F.col("mu"),
                    F.col("n") - 1,
                )
            ).alias("sigma"),
        )
    )
    return (
        ev.join(F.broadcast(s), ev.event_type == F.col("s_type"))
        .filter(F.abs(F.col("value") - F.col("mu")) > 2.5 * F.col("sigma"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_outliers"),
            F.round(F.min("value"), 6).alias("min_outlier"),
            F.round(F.max("value"), 6).alias("max_outlier"),
        )
    )


@register(
    "orders_column_profile",
    """
    SELECT COUNT(*) AS n_rows,
           COUNT(DISTINCT o_orderstatus) AS status_card,
           COUNT(DISTINCT o_orderpriority) AS priority_card,
           COUNT(DISTINCT o_custkey) AS custkey_card,
           COUNT(*) - COUNT(o_totalprice) AS price_nulls,
           ROUND(MIN(o_totalprice), 2) AS price_min,
           ROUND(MAX(o_totalprice), 2) AS price_max,
           strftime(MIN(o_orderdate), '%Y-%m-%d') AS first_date,
           strftime(MAX(o_orderdate), '%Y-%m-%d') AS last_date
    FROM orders
    """,
)
def orders_column_profile(spark, sf_dir):
    """One-pass table profile (row count, per-column cardinalities, null
    counts, ranges) — the schema-drift / data-quality snapshot an
    ingestion pipeline records per batch."""
    o = _t(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("o_orderstatus").alias("status_card"),
        F.count_distinct("o_orderpriority").alias("priority_card"),
        F.count_distinct("o_custkey").alias("custkey_card"),
        (F.count(F.lit(1)) - F.count("o_totalprice")).alias("price_nulls"),
        F.round(F.min("o_totalprice"), 2).alias("price_min"),
        F.round(F.max("o_totalprice"), 2).alias("price_max"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("first_date"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("last_date"),
    )


@register(
    "doc_token_rarity",
    r"""
    WITH words AS (
        SELECT doc_id,
               unnest(string_split(
                   regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
        FROM documents),
    freq AS (
        SELECT w, COUNT(*) AS cnt FROM words GROUP BY w)
    SELECT words.doc_id,
           quantile_cont(freq.cnt, 0.5) AS median_token_freq,
           MIN(freq.cnt) AS rarest_token_freq,
           COUNT(*) AS n_tokens
    FROM words JOIN freq ON words.w = freq.w
    GROUP BY words.doc_id
    """,
)
def doc_token_rarity(spark, sf_dir):
    """Token-rarity quality signal: per-doc median and min CORPUS frequency
    of its tokens (docs full of rare tokens → noise/garble candidates; the
    frequency-based cousin of the lexical quality score). ONE corpus
    shuffle: term frequencies aggregate by token, then the Zipf-small
    frequency table BROADCASTS back onto the token stream — the words side
    never shuffles by token, only by doc_id for the final per-doc agg
    (r2→r3 regression fix: the unhinted join let the words side exchange).
    Exact integer inputs + interpolated median keep the oracle bit-stable."""
    from .operators.dedup import normalized_text

    d = _t(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.explode(F.split(normalized_text("text"), " ")).alias("w")
    )
    # ONE tokenize: the (doc, token, count) table materializes once; the
    # corpus frequency and the per-doc stats both derive from it
    # (plan_audit detector 4). percentile's frequency argument makes the
    # weighted median over the compressed rows exactly the interpolated
    # median over the old exploded occurrences.
    tf = (
        words.groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(lineage_cut)
    )
    freq = tf.groupBy("w").agg(F.sum("c").alias("cnt"))
    return (
        tf.join(F.broadcast(freq), "w")
        .groupBy("doc_id")
        .agg(
            F.percentile("cnt", F.lit(0.5), F.col("c")).alias(
                "median_token_freq"
            ),
            F.min("cnt").alias("rarest_token_freq"),
            F.sum("c").alias("n_tokens"),
        )
    )


@register(
    "unshipped_order_revenue",
    """
    SELECT l.l_orderkey,
           ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                          AS DECIMAL(18,6)))::DOUBLE, 2) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
           o.o_orderpriority
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < DATE '1998-01-01'
      AND l.l_shipdate  > DATE '1998-01-01'
    GROUP BY l.l_orderkey, order_date, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def unshipped_order_revenue(spark, sf_dir):
    """TPC-H Q3 shape: top-10 unshipped BUILDING orders by open revenue.
    Both date predicates sit on base columns, so they push to the parquet
    scans; customer is a broadcast dim; the only shuffle is the
    lineitem-orders fact join + final agg. Deterministic total order
    (revenue DESC, orderkey) makes LIMIT stable across engines."""
    c = F.broadcast(
        _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    )
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_orderpriority",
        )
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,6)"
                    )
                ).cast("double"),
                2,
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    "regional_supplier_volume",
    """
    SELECT n.n_name AS nation,
           ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                          AS DECIMAL(18,6)))::DOUBLE, 2) AS revenue,
           COUNT(*) AS n_lines
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= DATE '1996-01-01'
      AND o.o_orderdate <  DATE '1997-01-01'
    GROUP BY n.n_name
    """,
)
def regional_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape: local-supplier revenue per ASIA nation. The
    customer-nation = supplier-nation equality rides the supplier join;
    nation x region collapses to one broadcast dim pre-filtered to the
    region, so only the fact-fact lineitem-orders join shuffles."""
    nr = (
        _t(spark, sf_dir, "nation")
        .join(
            _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", F.col("n_name").alias("nation"))
    )
    s = F.broadcast(
        _t(spark, sf_dir, "supplier").join(
            F.broadcast(nr), F.col("s_nationkey") == F.col("n_nationkey")
        )
    )
    c = F.broadcast(_t(spark, sf_dir, "customer"))
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .groupBy("nation")
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,6)"
                    )
                ).cast("double"),
                2,
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "returned_item_losses",
    """
    SELECT c.c_custkey, c.c_name, n.n_name AS nation, c.c_acctbal,
           ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                          AS DECIMAL(18,6)))::DOUBLE, 2) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= DATE '1997-01-01'
      AND o.o_orderdate <  DATE '1997-04-01'
    GROUP BY c.c_custkey, c.c_name, nation, c.c_acctbal
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def returned_item_losses(spark, sf_dir):
    """TPC-H Q10 shape: top-20 customers by revenue lost to returns in a
    quarter. Return-flag + date filters push to the scans; customer and
    nation broadcast; one fact-fact shuffle join then a customer-grain
    agg with a deterministic top-k order."""
    c = F.broadcast(_t(spark, sf_dir, "customer"))
    n = F.broadcast(
        _t(spark, sf_dir, "nation").select(
            "n_nationkey", F.col("n_name").alias("nation")
        )
    )
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "nation", "c_acctbal")
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,6)"
                    )
                ).cast("double"),
                2,
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "customer_order_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
          FROM customer c
          LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                            AND o.o_orderpriority <> '5-LOW'
          GROUP BY c.c_custkey) t
    GROUP BY c_count
    """,
)
def customer_order_distribution(spark, sf_dir):
    """TPC-H Q13 shape: histogram of per-customer order counts with a
    join-condition filter (not a WHERE — customers with zero qualifying
    orders must survive with c_count=0). Two cascaded aggregations; the
    second input is one row per customer, so the second shuffle is
    trivial."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "5-LOW"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# --- lineitem revenue KPI quartet ------------------------------------------
# Four single-row lineitem revenue scalars (TPC-H Q6/Q14/Q17/Q19 shapes),
# registered as ONE gate entry (lineitem_revenue_kpis, below): each keeps
# its own plan builder + oracle SQL so plan tests exercise the shapes
# individually, while the registry spends one 4-row gate slot instead of
# four 1-row ones. The merge is what holds the registry at exactly 200
# entries = 4 rounds x 50 driver-gate slots, the largest size at which no
# green row can ever age past the repo's "newest gate row >= N-3" freshness
# standard (202 entries left two rows 4 rounds stale by round 9).

_Q14_PROMO_SQL = """
    SELECT ROUND(100.0 * SUM(CASE WHEN p.p_type = 'PROMO'
                    THEN CAST(l.l_extendedprice * (1 - l.l_discount)
                              AS DECIMAL(18,6)) ELSE 0 END)::DOUBLE
                 / SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                            AS DECIMAL(18,6)))::DOUBLE, 6) AS promo_share_pct,
           COUNT(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= DATE '1997-09-01'
      AND l.l_shipdate <  DATE '1997-10-01'
    """


def promo_revenue_share(spark, sf_dir):
    """TPC-H Q14 shape: promo share of one month's revenue — conditional
    aggregate ratio. Ship-date range pushes to the lineitem scan; part is
    a broadcast dim; both sums accumulate as exact decimals and the
    division happens once, driver-side-free, after casting to double."""
    p = F.broadcast(_t(spark, sf_dir, "part").select("p_partkey", "p_type"))
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", rev).otherwise(
                        F.lit(0).cast("decimal(18,6)")
                    )
                ).cast("double")
                / F.sum(rev).cast("double"),
                6,
            ).alias("promo_share_pct"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


_Q17_SMALL_QTY_SQL = """
    SELECT ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)))::DOUBLE / 7.0,
                 2) AS avg_yearly,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN (SELECT l_partkey, 0.2 * AVG(l_quantity) AS qty_threshold
          FROM lineitem GROUP BY l_partkey) t
      ON t.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#3' AND l.l_quantity < t.qty_threshold
    """


def small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 shape: revenue from below-average-quantity lines of one
    brand — the per-part correlated AVG subquery becomes a self-agg of
    lineitem joined back on partkey. Quantities are integer-valued, so the
    double AVG is exact and the 0.2x threshold compares identically across
    engines. The per-part threshold table is part-grain (small) and
    broadcasts; only the threshold agg itself shuffles."""
    li = _t(spark, sf_dir, "lineitem")
    thresholds = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (0.2 * F.avg("l_quantity")).alias("qty_threshold")
    )
    p = F.broadcast(
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#3")
        .select("p_partkey")
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(F.broadcast(thresholds), li.l_partkey == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast(
                    "double"
                )
                / 7.0,
                2,
            ).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "large_volume_customers",
    """
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
           o.o_totalprice, t.total_qty
    FROM (SELECT l_orderkey, SUM(l_quantity) AS total_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING SUM(l_quantity) > 300) t
    JOIN orders o   ON o.o_orderkey = t.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def large_volume_customers(spark, sf_dir):
    """TPC-H Q18 shape: orders whose total quantity exceeds 300, with
    their customers. The HAVING filter runs on the order-grain aggregate
    BEFORE the joins, shrinking the probe side to a handful of rows that
    then broadcast against orders/customer. Quantity sums are
    integer-valued doubles — exact, no decimal cast needed."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    o = _t(spark, sf_dir, "orders")
    c = F.broadcast(_t(spark, sf_dir, "customer").select("c_custkey", "c_name"))
    return (
        o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey)
        .join(c, F.col("o_custkey") == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_totalprice",
            "total_qty",
        )
    )


_Q19_DISJUNCTIVE_SQL = """
    SELECT ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                          AS DECIMAL(18,6)))::DOUBLE, 2) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """


def disjunctive_predicate_revenue(spark, sf_dir):
    """TPC-H Q19 shape: OR-of-ANDs across both join sides. Catalyst
    derives the single-side residuals (quantity <= 30 on lineitem, the
    brand/size union on part) and pushes them below the join, so the scan
    doesn't read the full fact table even though the full predicate needs
    both tables."""
    p = F.broadcast(_t(spark, sf_dir, "part"))
    li = _t(spark, sf_dir, "lineitem")
    q, b, sz = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    pred = (
        ((b == "Brand#1") & sz.between(1, 5) & q.between(1, 11))
        | ((b == "Brand#2") & sz.between(1, 10) & q.between(10, 20))
        | ((b == "Brand#3") & sz.between(1, 15) & q.between(20, 30))
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(pred)
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,6)"
                    )
                ).cast("double"),
                2,
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "idle_customer_balances",
    """
    WITH thr AS (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
                        / COUNT(*) AS avg_bal
                 FROM customer WHERE c_acctbal > 0.0)
    SELECT CAST(c.c_custkey % 10 AS BIGINT) AS segment_code,
           COUNT(*) AS n_customers,
           ROUND(SUM(CAST(c.c_acctbal AS DECIMAL(18,4)))::DOUBLE, 2)
               AS total_bal
    FROM customer c, thr
    WHERE c.c_acctbal > thr.avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= DATE '2001-01-01')
    GROUP BY segment_code
    """,
)
def idle_customer_balances(spark, sf_dir):
    """TPC-H Q22 shape: above-average-balance customers with no recent
    orders (every fixture customer has SOME order, so 'recent' replaces
    the original's no-orders-ever; the plan shape — scalar aggregate
    threshold, anti join, grouped tally — is identical). The threshold is
    an exact decimal sum over count, so both engines compute the same
    double; it crossJoin-broadcasts rather than collecting to the driver."""
    c = _t(spark, sf_dir, "customer")
    thr = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(
            (
                F.sum(F.col("c_acctbal").cast("decimal(18,4)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_bal")
        )
    )
    recent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    return (
        c.crossJoin(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .groupBy((F.col("c_custkey") % 10).cast("bigint").alias("segment_code"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(18,4)")).cast("double"), 2
            ).alias("total_bal"),
        )
    )


@register(
    "doc_repetition_ratio",
    """
    WITH words AS (
        SELECT doc_id, i - 1 AS pos, ws[i] AS w
        FROM (SELECT doc_id,
                     string_split(regexp_replace(lower(trim(text)),
                                                 '\\s+', ' ', 'g'), ' ') AS ws
              FROM documents),
             LATERAL unnest(range(1, len(ws) + 1)) AS t(i)),
    grams AS (
        SELECT doc_id,
               w || ' ' || lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos)
                 AS gram
        FROM words)
    SELECT doc_id,
           COUNT(*) AS n_bigrams,
           COUNT(DISTINCT gram) AS n_distinct,
           ROUND(1.0 - COUNT(DISTINCT gram)::DOUBLE / COUNT(*), 6)
               AS repetition_ratio
    FROM grams WHERE gram IS NOT NULL
    GROUP BY doc_id
    """,
)
def doc_repetition_ratio(spark, sf_dir):
    """Gopher-style within-document repetition filter: fraction of
    duplicate word bigrams per doc (high ratio => boilerplate/looping
    text, a standard LLM-corpus quality gate). Reuses the linear
    posexplode+lead gram builder; one doc-keyed shuffle feeds both the
    gram window and the final per-doc aggregate."""
    d = _t(spark, sf_dir, "documents")
    grams = dd.gram_rows(d, n=2)
    return grams.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.countDistinct("gram").alias("n_distinct"),
        F.round(
            1.0 - F.countDistinct("gram").cast("double") / F.count(F.lit(1)), 6
        ).alias("repetition_ratio"),
    )


@register(
    "embedding_vector_stats",
    """
    SELECT vec_id,
           len(embedding) AS n_dims,
           ROUND(sqrt(list_sum([CAST(embedding[i] AS DOUBLE)
                                * CAST(embedding[i] AS DOUBLE)
                                for i in range(1, len(embedding) + 1)])), 6)
               AS l2_norm,
           ROUND(list_sum([CAST(embedding[i] AS DOUBLE)
                           for i in range(1, len(embedding) + 1)])
                 / len(embedding), 6) AS mean_val,
           ROUND(CAST(list_min(embedding) AS DOUBLE), 6) AS min_val,
           ROUND(CAST(list_max(embedding) AS DOUBLE), 6) AS max_val
    FROM embeddings
    """,
)
def embedding_vector_stats(spark, sf_dir):
    """Per-vector component statistics (norm / mean / range) via
    higher-order array functions — all JVM-side, no UDF, no explode: the
    64-float array never leaves its row, so the 100 TB plan is a pure map
    over the parquet scan. Sums are sequential left-to-right double folds
    to match the DuckDB list-comprehension oracle bit-for-bit."""
    emb = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    comp_sum = F.aggregate(
        F.transform(v, lambda x: x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return emb.select(
        "vec_id",
        F.size(v).alias("n_dims"),
        F.round(sim.norm(v), 6).alias("l2_norm"),
        F.round(comp_sum / F.size(v), 6).alias("mean_val"),
        F.round(F.array_min(v).cast("double"), 6).alias("min_val"),
        F.round(F.array_max(v).cast("double"), 6).alias("max_val"),
    )


@register(
    "embedding_quantization",
    """
    WITH base AS (
        SELECT vec_id, embedding,
               CAST(list_min(embedding) AS DOUBLE) AS lo,
               CAST(list_max(embedding) AS DOUBLE) AS hi
        FROM embeddings)
    SELECT vec_id,
           ROUND((hi - lo) / 255.0, 6) AS scale,
           ROUND(lo, 6) AS zero_point,
           list_sum([CAST(round((CAST(embedding[i] AS DOUBLE) - lo)
                                / ((hi - lo) / 255.0)) AS INTEGER)
                     for i in range(1, len(embedding) + 1)])::BIGINT AS q_sum,
           list_sum([(CAST(round((CAST(embedding[i] AS DOUBLE) - lo)
                                 / ((hi - lo) / 255.0)) AS INTEGER)
                      * CAST(round((CAST(embedding[i] AS DOUBLE) - lo)
                                   / ((hi - lo) / 255.0)) AS INTEGER))
                     for i in range(1, len(embedding) + 1)])::BIGINT AS q_sumsq
    FROM base
    """,
)
def embedding_quantization(spark, sf_dir):
    """Affine uint8 quantization of each embedding (min/max -> scale +
    zero-point, the standard int8 storage recipe for ANN indexes at
    scale). Row-local array math only — the 4x-smaller quantized corpus is
    what a 100 TB index build would persist. The oracle checks the exact
    quantized integer sums, not just the parameters; rounding happens on
    identically-computed doubles, so HALF_UP agrees across engines for the
    non-negative codes."""
    emb = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    lo = F.array_min(v).cast("double")
    hi = F.array_max(v).cast("double")
    scale = (hi - lo) / F.lit(255.0)
    q = F.transform(v, lambda x: F.round((x.cast("double") - lo) / scale).cast("int"))
    return emb.select(
        "vec_id",
        F.round(scale, 6).alias("scale"),
        F.round(lo, 6).alias("zero_point"),
        F.aggregate(q, F.lit(0).cast("bigint"), lambda a, x: a + x).alias("q_sum"),
        F.aggregate(
            F.transform(q, lambda x: (x * x).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda a, x: a + x,
        ).alias("q_sumsq"),
    )


_Q6_DISCOUNT_BAND_SQL = """
    SELECT ROUND(SUM(CAST(l_extendedprice * l_discount
                          AS DECIMAL(18,6)))::DOUBLE, 2) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """


def discount_band_revenue(spark, sf_dir):
    """TPC-H Q6 shape: forecast-revenue-change — a pure scan-filter-agg
    with no join at all. All three predicates push to the parquet scan and
    only three columns are read, so at 100 TB this is I/O-bound on a
    fraction of one table: the query Spark should execute closest to
    hardware speed."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * F.col("l_discount")).cast(
                        "decimal(18,6)"
                    )
                ).cast("double"),
                2,
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "lineitem_revenue_kpis",
    f"""
    SELECT 'q6_discount_band_revenue' AS kpi, revenue AS value, n_lines
    FROM ({_Q6_DISCOUNT_BAND_SQL})
    UNION ALL
    SELECT 'q14_promo_share_pct' AS kpi, promo_share_pct AS value, n_lines
    FROM ({_Q14_PROMO_SQL})
    UNION ALL
    SELECT 'q17_small_qty_avg_yearly' AS kpi, avg_yearly AS value, n_lines
    FROM ({_Q17_SMALL_QTY_SQL})
    UNION ALL
    SELECT 'q19_disjunctive_revenue' AS kpi, revenue AS value, n_lines
    FROM ({_Q19_DISJUNCTIVE_SQL})
    """,
)
def lineitem_revenue_kpis(spark, sf_dir):
    """Revenue KPI suite: the four single-row lineitem revenue scalars
    (TPC-H Q6 scan-filter-agg, Q14 conditional-aggregate ratio, Q17
    correlated per-group AVG threshold, Q19 OR-of-ANDs cross-side
    pushdown) as one 4-row (kpi, value, n_lines) report — the shape a
    revenue dashboard actually materializes. Each branch keeps its own
    standalone plan builder (promo_revenue_share & co., above) so the
    plan-shape tests still pin each branch's pushdown individually; the
    union evaluates all four in one job with no shared state, so branch
    plans are exactly the standalone plans. One gate entry instead of
    four keeps the registry at 200 = 4 rounds x 50 driver-gate slots
    (see the quartet comment above)."""
    branches = [
        ("q6_discount_band_revenue", discount_band_revenue, "revenue"),
        ("q14_promo_share_pct", promo_revenue_share, "promo_share_pct"),
        ("q17_small_qty_avg_yearly", small_quantity_revenue, "avg_yearly"),
        ("q19_disjunctive_revenue", disjunctive_predicate_revenue, "revenue"),
    ]
    out = None
    for label, fn, col in branches:
        d = fn(spark, sf_dir).select(
            F.lit(label).alias("kpi"),
            F.col(col).cast("double").alias("value"),
            F.col("n_lines"),
        )
        out = d if out is None else out.unionByName(d)
    return out


@register(
    "top_revenue_supplier",
    """
    WITH rev AS (
        SELECT l_suppkey,
               ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(18,6)))::DOUBLE, 2) AS total_rev
        FROM lineitem
        WHERE l_shipdate >= DATE '1997-01-01'
          AND l_shipdate <  DATE '1997-04-01'
        GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, rev.total_rev
    FROM supplier s JOIN rev ON s.s_suppkey = rev.l_suppkey
    WHERE rev.total_rev = (SELECT MAX(total_rev) FROM rev)
    """,
)
def top_revenue_supplier(spark, sf_dir):
    """TPC-H Q15 shape: supplier(s) with the max quarterly revenue. The
    revenue CTE computes once; its max arrives by broadcast (no driver
    collect, no global window over the aggregate). Comparing ROUNDED
    revenue to its own max keeps the equality engine-stable."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(
        F.round(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,6)"
                )
            ).cast("double"),
            2,
        ).alias("total_rev")
    )
    best = rev.agg(F.max("total_rev").alias("max_rev"))
    s = F.broadcast(_t(spark, sf_dir, "supplier").select("s_suppkey", "s_name"))
    return (
        rev.crossJoin(F.broadcast(best))
        .filter(F.col("total_rev") == F.col("max_rev"))
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_rev")
    )


@register(
    "supplier_count_by_part_attrs",
    """
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#5'
    GROUP BY p_brand, p_type, p_size
    """,
)
def supplier_count_by_part_attrs(spark, sf_dir):
    """TPC-H Q16 shape: distinct suppliers per part attribute combo (the
    fixtures have no partsupp table, so lineitem supplies the
    part-supplier relation). Brand exclusion pushes to the part scan; the
    distinct count expands to a two-phase aggregate (partial distinct
    per partition, then merge) rather than a naive global distinct."""
    p = F.broadcast(
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand") != "Brand#5")
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "sole_late_supplier_orders",
    """
    WITH late AS (
        SELECT DISTINCT l.l_orderkey, l.l_suppkey
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderstatus = 'F'
          AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY),
    supps AS (
        SELECT l_orderkey, COUNT(DISTINCT l_suppkey) AS n_supps
        FROM lineitem GROUP BY l_orderkey),
    per_order AS (
        SELECT late.l_orderkey, COUNT(*) AS n_late_supps,
               MIN(late.l_suppkey) AS only_supp
        FROM late GROUP BY late.l_orderkey)
    SELECT s.s_suppkey, s.s_name, COUNT(*) AS n_orders
    FROM per_order
    JOIN supps ON supps.l_orderkey = per_order.l_orderkey
    JOIN supplier s ON s.s_suppkey = per_order.only_supp
    WHERE supps.n_supps >= 2 AND per_order.n_late_supps = 1
    GROUP BY s.s_suppkey, s.s_name
    """,
)
def sole_late_supplier_orders(spark, sf_dir):
    """TPC-H Q21 shape: suppliers solely to blame for a late
    multi-supplier order (no receiptdate in the fixtures — ship > order
    date + 90d defines late). The EXISTS / NOT-EXISTS pair of the
    original collapses into a single lineitem scan and ONE fact shuffle:
    dedup to (order, supplier, any_late) grain first, then roll up to the
    order grain. Two plain hash aggregates replace the conditional
    countDistincts — Spark's distinct-aggregate rewrite would Expand every
    joined row 3x through the aggregation pipeline (measured 2.8s → 2.0s
    at sf0.1) — and neither needs its own exchange: hashpartitioning on
    l_orderkey from the join satisfies both groupings."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderstatus"
    )
    is_late = (F.col("o_orderstatus") == "F") & (
        F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 90)
    )
    pair = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(is_late.cast("int")).alias("any_late"))
    )
    per_order = pair.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supps"),
        F.sum("any_late").alias("n_late_supps"),
        F.min(F.when(F.col("any_late") == 1, F.col("l_suppkey"))).alias(
            "only_supp"
        ),
    )
    s = F.broadcast(_t(spark, sf_dir, "supplier").select("s_suppkey", "s_name"))
    return (
        per_order.filter((F.col("n_supps") >= 2) & (F.col("n_late_supps") == 1))
        .join(s, F.col("only_supp") == s.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "doc_tfidf_top_terms",
    r"""
    WITH words AS (
        SELECT doc_id,
               unnest(string_split(
                   regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
        FROM documents),
    doc_len AS (SELECT doc_id, COUNT(*) AS n FROM words GROUP BY doc_id),
    tf AS (SELECT doc_id, w, COUNT(*) AS c FROM words GROUP BY doc_id, w),
    df AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM words GROUP BY w),
    nd AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.w AS term,
               ROUND((tf.c::DOUBLE / doc_len.n)
                     * ln(nd.n_docs::DOUBLE / df.df), 6) AS tfidf
        FROM tf
        JOIN doc_len ON doc_len.doc_id = tf.doc_id
        JOIN df ON df.w = tf.w
        CROSS JOIN nd),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                   ORDER BY tfidf DESC, term) AS rnk
        FROM scored)
    SELECT doc_id, term, tfidf, rnk FROM ranked WHERE rnk <= 3
    """,
)
def doc_tfidf_top_terms(spark, sf_dir):
    """TF-IDF top-3 terms per document — the classic distinctive-term
    extractor for corpus exploration. Term and document frequencies are
    two aggregates off one tokenization pass; the df table and the scalar
    doc count broadcast back onto the doc-grain tf rows. Deterministic
    tiebreak (score DESC, term ASC) keeps top-3 engine-stable."""
    from .operators.dedup import normalized_text

    d = _t(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.explode(F.split(normalized_text("text"), " ")).alias("w")
    )
    # ONE tokenize: the (doc, term, count) table materializes once and
    # the per-doc lengths and document frequencies derive from it
    # linearly (plan_audit detector 4 — the nb_lang fix shape; doc_len
    # and df each compiled their own corpus tokenize before). n_docs
    # stays a direct COUNT(*) over documents — its oracle counts every
    # row including NULL-text docs, which emit no token rows and so
    # would vanish from a tf-derived count; the extra scan carries no
    # tokenize, so detector 4 does not count it.
    tf = (
        words.groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(lineage_cut)
    )
    doc_len = tf.groupBy(F.col("doc_id").alias("dl_doc")).agg(
        F.sum("c").alias("n")
    )
    df_tbl = tf.groupBy(F.col("w").alias("df_w")).agg(
        F.count(F.lit(1)).alias("df")
    )
    nd = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(doc_len, F.col("doc_id") == F.col("dl_doc"))
        .join(F.broadcast(df_tbl), F.col("w") == F.col("df_w"))
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            F.col("w").alias("term"),
            F.round(
                (F.col("c").cast("double") / F.col("n"))
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ).alias("tfidf"),
        )
    )
    w_rank = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return scored.withColumn("rnk", F.row_number().over(w_rank)).filter(
        F.col("rnk") <= 3
    )


@register(
    "user_favorite_event_type",
    """
    WITH cnt AS (SELECT user_id, event_type, COUNT(*) AS n_events
                 FROM events GROUP BY user_id, event_type),
    ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                         ORDER BY n_events DESC, event_type) AS r
               FROM cnt)
    SELECT user_id, event_type AS favorite_type, n_events
    FROM ranked WHERE r = 1
    """,
)
def user_favorite_event_type(spark, sf_dir):
    """Deterministic per-group mode: most frequent event type per user.
    Built as count + row_number rather than F.mode because mode's
    tie-breaking is engine- (and run-) dependent; (count DESC, value ASC)
    is total, so results are reproducible anywhere."""
    ev = _t(spark, sf_dir, "events")
    cnt = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"), "event_type")
    return (
        cnt.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("user_id", F.col("event_type").alias("favorite_type"), "n_events")
    )


@register(
    "user_activity_streaks",
    """
    WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
    grp AS (SELECT user_id, d,
                   d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
                            AS INTEGER) AS g
            FROM days),
    streaks AS (SELECT user_id, COUNT(*) AS len
                FROM grp GROUP BY user_id, g)
    SELECT user_id, MAX(len) AS longest_streak, COUNT(*) AS n_streaks
    FROM streaks GROUP BY user_id
    """,
)
def user_activity_streaks(spark, sf_dir):
    """Gaps-and-islands: longest run of consecutive active days per user
    (date minus row_number is constant within a consecutive run). The
    grouping date never leaves the query, so the date-representation
    hash trap doesn't apply; outputs are pure ints."""
    ev = _t(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    grp = days.withColumn("g", F.date_sub("d", F.row_number().over(w)))
    streaks = grp.groupBy("user_id", "g").agg(F.count(F.lit(1)).alias("len"))
    return streaks.groupBy("user_id").agg(
        F.max("len").alias("longest_streak"),
        F.count(F.lit(1)).alias("n_streaks"),
    )


@register(
    "rolling_7d_active_users",
    """
    WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
    contrib AS (SELECT user_id, d + CAST(i AS INTEGER) AS day
                FROM days, LATERAL unnest(range(0, 7)) AS t(i)),
    base AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events)
    SELECT strftime(base.day, '%Y-%m-%d') AS day,
           COUNT(DISTINCT c.user_id) AS active_7d
    FROM base JOIN contrib c ON c.day = base.day
    GROUP BY base.day
    """,
)
def rolling_7d_active_users(spark, sf_dir):
    """Trailing-7-day distinct active users per day — the sliding
    DISTINCT that window frames can't express (count distinct over a
    range frame is unsupported; collect_set-over-window materializes the
    whole set per row). Scalable formulation: each (user, active-day)
    contributes itself to the 7 calendar days it affects (a 7x row
    explode of the already-deduped user-day table — tiny), then one
    groupBy day + countDistinct. No per-row set state, no self-join of
    the raw events."""
    ev = _t(spark, sf_dir, "events")
    days = ev.select(F.to_date("ts").alias("d"), "user_id").distinct()
    contrib = days.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
        "d",
    ).select("user_id", F.date_add("d", F.col("i")).alias("day"))
    base = ev.select(F.to_date("ts").alias("day")).distinct()
    return (
        base.join(contrib, "day")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("active_7d"))
        .select(F.date_format("day", "yyyy-MM-dd").alias("day"), "active_7d")
    )


# ---------------------------------------------------------------------------
# PII redaction (north-star text hygiene; single-sourced patterns from
# operators.text.PII_PATTERNS so Spark and the oracle run the SAME regex)
# ---------------------------------------------------------------------------
_PII_SCRUB_SQL = "text"
for _kind, _pat, _repl in tx.PII_PATTERNS:
    _PII_SCRUB_SQL = f"regexp_replace({_PII_SCRUB_SQL}, '{_pat}', '{_repl}', 'g')"
_PII_COUNT_SQL = " + ".join(
    f"len(regexp_extract_all(text, '{_pat}'))" for _kind, _pat, _repl in tx.PII_PATTERNS
)


@register(
    "doc_pii_scrub",
    f"""
    SELECT doc_id,
           md5({_PII_SCRUB_SQL}) AS scrub_md5,
           {_PII_COUNT_SQL} AS n_pii
    FROM documents
    """,
)
def doc_pii_scrub(spark, sf_dir):
    """PII redaction over the corpus (emails / SSNs / phones →
    placeholder tokens), verified byte-for-byte through an md5 of the
    scrubbed text against the oracle running the identical regex chain.
    Map-only column algebra — zero shuffle at any scale. The fixture
    corpus is PII-free, so the md5 equality proves the no-op path and
    tests/test_operators exercises the positive path on synthetic PII."""
    docs = tx.scrub_pii(_t(spark, sf_dir, "documents"), "text", out="scrubbed")
    return docs.select(
        "doc_id",
        F.md5("scrubbed").alias("scrub_md5"),
        (F.col("n_email") + F.col("n_ssn") + F.col("n_phone")).alias("n_pii"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q8 shape — nation market share by order year
# ---------------------------------------------------------------------------
@register(
    "nation_market_share",
    """
    SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS order_year,
           ROUND(SUM(CASE WHEN sn.n_name = 'NATION_3'
                          THEN CAST(l.l_extendedprice * (1 - l.l_discount)
                                    AS DECIMAL(18,6))
                          ELSE CAST(0 AS DECIMAL(18,6)) END)::DOUBLE
                 / SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                            AS DECIMAL(18,6)))::DOUBLE, 6) AS mkt_share
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN part p     ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
    JOIN region r   ON cn.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
      AND o.o_orderdate >= DATE '1996-01-01'
      AND o.o_orderdate <  DATE '1998-01-01'
    GROUP BY order_year
    """,
)
def nation_market_share(spark, sf_dir):
    """TPC-H Q8 shape: one nation's share of ECONOMY-part revenue sold
    into ASIA customers, per order year. Every dimension (part filtered
    to the type, supplier+nation, customer+nation+region filtered to the
    market) broadcasts, so the only shuffle is the lineitem-orders
    fact-fact join; the share is a conditional-sum ratio computed in one
    aggregate pass over the joined fact."""
    p = F.broadcast(
        _t(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    sn = F.broadcast(
        _t(spark, sf_dir, "supplier")
        .join(
            _t(spark, sf_dir, "nation").select(
                F.col("n_nationkey").alias("sn_key"),
                F.col("n_name").alias("supp_nation"),
            ),
            F.col("s_nationkey") == F.col("sn_key"),
        )
        .select("s_suppkey", "supp_nation")
    )
    market_cust = F.broadcast(
        _t(spark, sf_dir, "customer")
        .join(
            _t(spark, sf_dir, "nation"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("c_custkey")
    )
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(p, li.l_partkey == p.p_partkey)
        .join(sn, li.l_suppkey == sn.s_suppkey)
        .join(market_cust, o.o_custkey == market_cust.c_custkey)
        .groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(
                        F.lit(0).cast("decimal(18,6)")
                    )
                ).cast("double")
                / F.sum(vol).cast("double"),
                6,
            ).alias("mkt_share")
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q9 shape — profit by supplier nation and order year
# ---------------------------------------------------------------------------
@register(
    "part_profit_by_nation",
    """
    SELECT sn.n_name AS nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS order_year,
           ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                          - 0.5 * p.p_retailprice * l.l_quantity
                          AS DECIMAL(18,6)))::DOUBLE, 2) AS profit
    FROM lineitem l
    JOIN part p     ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY nation, order_year
    """,
)
def part_profit_by_nation(spark, sf_dir):
    """TPC-H Q9 shape: profit on 'widget' parts per supplier nation and
    year. The fixtures carry no partsupp/supplycost, so cost is proxied
    as half the part's retail price — the join/agg topology (name-LIKE
    filtered part dim, supplier-nation path, order-year grouping over
    the fact) is what the shape exercises. Part filter broadcasts and
    prunes the fact before the one fact-fact shuffle with orders."""
    p = F.broadcast(
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
    )
    sn = F.broadcast(
        _t(spark, sf_dir, "supplier")
        .join(
            _t(spark, sf_dir, "nation").select(
                F.col("n_nationkey").alias("sn_key"),
                F.col("n_name").alias("nation"),
            ),
            F.col("s_nationkey") == F.col("sn_key"),
        )
        .select("s_suppkey", "nation")
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem")
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.5 * F.col("p_retailprice") * F.col("l_quantity")
    ).cast("decimal(18,6)")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(sn, li.l_suppkey == sn.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("nation", F.year("o_orderdate").alias("order_year"))
        .agg(F.round(F.sum(amount).cast("double"), 2).alias("profit"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q11 shape — revenue concentration above a global-fraction threshold
# ---------------------------------------------------------------------------
@register(
    "concentrated_part_revenue",
    """
    WITH pr AS (
      SELECT l.l_partkey,
             SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                      AS DECIMAL(18,6))) AS val
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      WHERE n.n_name = 'NATION_7'
      GROUP BY l.l_partkey)
    SELECT l_partkey, ROUND(val::DOUBLE, 2) AS part_value
    FROM pr
    WHERE val::DOUBLE > (SELECT SUM(val)::DOUBLE * 0.001 FROM pr)
    """,
)
def concentrated_part_revenue(spark, sf_dir):
    """TPC-H Q11 shape: parts whose revenue from one nation's suppliers
    exceeds a fraction of that nation's total — a group aggregate
    filtered against a scalar subquery over the SAME aggregate. The
    per-part aggregate computes once; the global total is a second
    trivial agg over its (already tiny) output, joined back as a
    broadcast scalar — no second pass over the fact table."""
    s = F.broadcast(
        _t(spark, sf_dir, "supplier")
        .join(
            _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7"),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    li = _t(spark, sf_dir, "lineitem")
    pr = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .groupBy("l_partkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,6)"
                )
            ).alias("val")
        )
    )
    total = pr.agg(
        (F.sum("val").cast("double") * 0.001).alias("threshold")
    )
    return (
        pr.join(F.broadcast(total))
        .filter(F.col("val").cast("double") > F.col("threshold"))
        .select(
            "l_partkey", F.round(F.col("val").cast("double"), 2).alias("part_value")
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q12 shape — conditional priority counts per shipping-delay band
# ---------------------------------------------------------------------------
@register(
    "shipping_delay_priority_mix",
    """
    SELECT CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= 30
                THEN 'fast'
                WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= 60
                THEN 'medium'
                ELSE 'slow' END AS delay_band,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= DATE '1997-01-01'
      AND l.l_shipdate <  DATE '1998-01-01'
    GROUP BY delay_band
    """,
)
def shipping_delay_priority_mix(spark, sf_dir):
    """TPC-H Q12 shape: high/low-priority line counts per delivery-delay
    band (the fixtures carry no l_shipmode, so the band is derived from
    ship-minus-order days — same join + CASE-categorize + two
    conditional counts topology). Ship-date range pushes to the lineitem
    scan; one fact-fact shuffle; the three-row result aggregates
    map-side."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_shipdate")
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    band = (
        F.when(delay <= 30, "fast").when(delay <= 60, "medium").otherwise("slow")
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(band.alias("delay_band"))
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q20 shape — dominant suppliers of a part-name family
# ---------------------------------------------------------------------------
@register(
    "dominant_part_suppliers",
    """
    WITH sp AS (
      SELECT l.l_suppkey, l.l_partkey, SUM(l.l_quantity) AS qty
      FROM lineitem l
      JOIN part p ON l.l_partkey = p.p_partkey
      WHERE p.p_name LIKE 'red%'
      GROUP BY l.l_suppkey, l.l_partkey),
    tot AS (SELECT l_partkey, SUM(qty) AS total_qty FROM sp GROUP BY l_partkey)
    SELECT s.s_suppkey, s.s_name, n.n_name AS nation
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE s.s_suppkey IN (
      SELECT sp.l_suppkey FROM sp
      JOIN tot ON sp.l_partkey = tot.l_partkey
      WHERE sp.qty > 0.5 * tot.total_qty)
    """,
)
def dominant_part_suppliers(spark, sf_dir):
    """TPC-H Q20 shape: suppliers who shipped more than half of all
    shipped quantity of some 'red' part (no partsupp/availqty in the
    fixtures — dominance over shipped volume replaces excess-stock, same
    nested-aggregate + IN-subquery → semi-join topology). The name-LIKE
    part dim broadcasts and prunes the fact scan; the part-total is a
    second agg over the already-aggregated (supplier, part) rows; the
    final IN becomes a left-semi join against the small supplier dim."""
    p = F.broadcast(
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_partkey", "l_quantity"
    )
    sp = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    tot = sp.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        F.sum("qty").alias("total_qty")
    )
    dominant = (
        sp.join(tot, sp.l_partkey == tot.t_partkey)
        .filter(F.col("qty") > 0.5 * F.col("total_qty"))
        .select("l_suppkey")
    )
    n = F.broadcast(
        _t(spark, sf_dir, "nation").select(
            "n_nationkey", F.col("n_name").alias("nation")
        )
    )
    return (
        _t(spark, sf_dir, "supplier")
        .join(dominant, F.col("s_suppkey") == dominant.l_suppkey, "left_semi")
        .join(n, F.col("s_nationkey") == n.n_nationkey)
        .select("s_suppkey", "s_name", "nation")
    )


@register(
    "doc_boilerplate_ngrams",
    """
    WITH words AS (
        SELECT doc_id, i - 1 AS pos, ws[i] AS w
        FROM (SELECT doc_id,
                     string_split(regexp_replace(lower(trim(text)),
                                                 '\\s+', ' ', 'g'), ' ') AS ws
              FROM documents),
             LATERAL unnest(range(1, len(ws) + 1)) AS t(i)),
    grams AS (
        SELECT doc_id,
               md5(w || ' ' || lead(w, 1) OVER dw || ' ' || lead(w, 2) OVER dw)
                 AS g
        FROM words
        WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)),
    cnt AS (
        SELECT doc_id, g, COUNT(*) AS c
        FROM grams WHERE g IS NOT NULL GROUP BY 1, 2),
    dpg AS (SELECT g, COUNT(*) AS n_docs FROM cnt GROUP BY 1)
    SELECT cnt.doc_id,
           CAST(SUM(cnt.c) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN dpg.n_docs >= 3 THEN cnt.c ELSE 0 END) AS BIGINT)
               AS n_boiler,
           ROUND(SUM(CASE WHEN dpg.n_docs >= 3 THEN cnt.c ELSE 0 END)::DOUBLE
                 / SUM(cnt.c), 6) AS boiler_fraction
    FROM cnt JOIN dpg USING (g)
    GROUP BY cnt.doc_id
    """,
)
def doc_boilerplate_ngrams(spark, sf_dir):
    """Cross-document boilerplate n-gram detection (CCNet-style corpus
    cleaning, the cross-doc complement of doc_repetition_ratio's
    within-doc gate): fraction of each doc's word trigrams that occur in
    >= 3 distinct documents. All shuffles move md5 digests, never text —
    see operators/dedup.boilerplate_ngram_stats for the 100 TB notes."""
    d = _t(spark, sf_dir, "documents")
    return dd.boilerplate_ngram_stats(d, n=3, min_docs=3)


@register(
    "knn_label_predict",
    sim.knn_label_oracle_sql(k=10, mod=100),
)
def knn_label_predict(spark, sf_dir):
    """kNN classification over the embeddings table: every 100th vector
    is a query, its label predicted by majority vote of its 10 exact
    cosine nearest neighbors (j-sequential Arrow kernel — bit-identical
    scores to the SQL fold, so the vote is deterministic cross-engine).
    The embedding-quality health check a curation pipeline runs before
    trusting embedding-based filters; query count scales with the corpus
    while the per-query cost stays one corpus scan + a (queries × k)
    aggregation."""
    em = _t(spark, sf_dir, "embeddings")
    q = em.filter(F.col("vec_id") % 100 == 0)
    return sim.knn_label_predict(em, q, k=10)


# ---------------------------------------------------------------------------
# SimHash banded near-dup pairs (Manku WWW'07 pattern — exact recall at
# Hamming <= 3 via 4×16-bit band bucketing; integer-only verify)
# ---------------------------------------------------------------------------
@register("simhash_near_dup_pairs", dd.simhash_pairs_oracle_sql(max_hamming=3))
def simhash_near_dup_pairs_q(spark, sf_dir):
    """Near-dup doc pairs by SimHash Hamming distance ≤ 3: band join on
    16-bit fingerprint quarters (pigeonhole-exact recall), XOR/bit_count
    verify of candidates only — never all pairs."""
    return dd.simhash_near_dup_pairs(_t(spark, sf_dir, "documents"), max_hamming=3)


# ---------------------------------------------------------------------------
# Lexical diversity (type-token ratio / hapax fraction quality signals)
# ---------------------------------------------------------------------------
@register("doc_lexical_diversity", tx.lexical_diversity_oracle_sql())
def doc_lexical_diversity_q(spark, sf_dir):
    """Per-doc type-token ratio and hapax fraction — integer two-level
    aggregate, single IEEE divisions (bit-stable across partitionings)."""
    return tx.lexical_diversity(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Per-language bigram LM head: the n-gram frequency table a tokenizer /
# language-model pipeline builds from the corpus
# ---------------------------------------------------------------------------
@register(
    "lang_bigram_top",
    """
    WITH ws AS (
        SELECT lang, string_split(regexp_replace(lower(trim(text)),
                                  '\\s+', ' ', 'g'), ' ') AS w
        FROM documents
    ),
    grams AS (
        SELECT lang, unnest([w[i] || ' ' || w[i + 1]
                             for i in range(1, len(w))]) AS gram
        FROM ws
    ),
    counts AS (
        SELECT lang, gram, COUNT(*) AS n FROM grams GROUP BY lang, gram
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                   ORDER BY n DESC, gram) AS rank
        FROM counts
    )
    SELECT lang, gram, n, rank FROM ranked WHERE rank <= 5
    """,
)
def lang_bigram_top_q(spark, sf_dir):
    """Top-5 bigrams per language by corpus frequency — posexplode+lead
    shingling (linear per word), one (lang, gram) count shuffle, top-k via
    row_number. The shape of corpus n-gram LM table construction."""
    docs = _t(spark, sf_dir, "documents")
    grams = dd.gram_rows(docs.select("doc_id", "text"), n=2)
    with_lang = grams.join(docs.select("doc_id", "lang"), "doc_id")
    counts = with_lang.groupBy("lang", "gram").agg(F.count(F.lit(1)).alias("n"))
    return win.topk_per_group(
        counts, ["lang"], [F.col("n").desc(), F.col("gram").asc()], k=5,
        rank_col="rank",
    )


# ---------------------------------------------------------------------------
# Embedding per-dimension corpus profile (feature-health stats a similarity
# pipeline checks before trusting distance metrics)
# ---------------------------------------------------------------------------
@register(
    "embedding_dim_profile",
    """
    WITH vals AS (
        SELECT generate_subscripts(embedding, 1) - 1 AS dim,
               CAST(unnest(embedding) AS DOUBLE) AS val
        FROM embeddings
    ),
    sums AS (
        SELECT dim, COUNT(val) AS n,
               CAST(SUM(CAST(val AS DECIMAL(38,12))) AS DOUBLE) / COUNT(val) AS mean,
               CAST(SUM(CAST(val * val AS DECIMAL(38,12))) AS DOUBLE) / COUNT(val) AS meansq,
               MIN(val) AS min_val, MAX(val) AS max_val
        FROM vals GROUP BY dim
    )
    SELECT dim, n, ROUND(mean, 6) AS mean,
           ROUND(sqrt(greatest(meansq - mean * mean, 0.0)), 6) AS std,
           ROUND(min_val, 6) AS min_val, ROUND(max_val, 6) AS max_val
    FROM sums
    """,
)
def embedding_dim_profile_q(spark, sf_dir):
    """Per-dimension mean/std/min/max across the corpus — posexplode to
    (dim, val), one 64-group aggregate with exact decimal sums (order-
    independent), deterministic sqrt. Linear scan at any scale."""
    em = _t(spark, sf_dir, "embeddings")
    vals = em.select(F.posexplode("embedding").alias("dim", "val")).select(
        "dim", F.col("val").cast("double").alias("val")
    )
    sums = vals.groupBy("dim").agg(
        F.count("val").alias("n"),
        (
            F.sum(F.col("val").cast("decimal(38,12)")).cast("double")
            / F.count("val")
        ).alias("mean"),
        (
            F.sum((F.col("val") * F.col("val")).cast("decimal(38,12)")).cast(
                "double"
            )
            / F.count("val")
        ).alias("meansq"),
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
    )
    return sums.select(
        "dim",
        "n",
        F.round("mean", 6).alias("mean"),
        F.round(
            F.sqrt(F.greatest(F.col("meansq") - F.col("mean") * F.col("mean"),
                              F.lit(0.0))),
            6,
        ).alias("std"),
        F.round("min_val", 6).alias("min_val"),
        F.round("max_val", 6).alias("max_val"),
    )


# ---------------------------------------------------------------------------
# Deterministic k-means cluster assignment (semantic bucketing step)
# ---------------------------------------------------------------------------
@register(
    "embedding_kmeans_clusters",
    sim.kmeans_clusters_oracle_sql(lloyd_iters=2, target_cluster_size=64),
)
def embedding_kmeans_clusters_q(spark, sf_dir):
    """Deterministic k-means (k = ceil(N/64) derived from the corpus, 2
    decimal-mean Lloyd rounds, RNG-free) assigning every embedding to a
    cluster — the corpus-partitioning step of semantic dedup; broadcast
    centroids, no corpus shuffle. Deriving k from N (instead of a pinned
    k) is what bounds downstream within-cell work at 100x scale; the
    oracle derives the identical k via a COUNT(*) scalar subquery."""
    return sim.kmeans_clusters(
        _t(spark, sf_dir, "embeddings"), lloyd_iters=2, target_cluster_size=64
    )


# ---------------------------------------------------------------------------
# Quality-percentile survivor counts (threshold-free quality filtering)
# ---------------------------------------------------------------------------
@register(
    "quality_percentile_survivors",
    f"""
    WITH q AS ({tx.quality_oracle_sql()}),
    lang AS (SELECT doc_id, lang FROM documents),
    p AS (SELECT quantile_cont(quality, 0.25) AS p25 FROM q)
    SELECT lang.lang, COUNT(*) AS n_docs,
           ROUND(CAST(SUM(CAST(quality AS DECIMAL(38,12))) AS DOUBLE)
                 / COUNT(quality), 6) AS avg_quality
    FROM q JOIN lang ON q.doc_id = lang.doc_id, p
    WHERE q.quality >= p.p25
    GROUP BY lang.lang
    """,
)
def quality_percentile_survivors_q(spark, sf_dir):
    """Drop the bottom quality quartile (corpus-relative threshold, not a
    magic constant) and count survivors per language. The exact p25 is a
    broadcast one-row aggregate; Spark's percentile() and DuckDB's
    quantile_cont share the linear-interpolation definition, and quality
    values are identical doubles on both sides, so the cut is exact."""
    docs = _t(spark, sf_dir, "documents")
    q = tx.with_quality_score(docs).select("doc_id", "lang", "quality")
    p25 = q.agg(F.percentile("quality", 0.25).alias("p25"))
    survivors = q.join(F.broadcast(p25)).filter(F.col("quality") >= F.col("p25"))
    return survivors.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(agg.decimal_avg(F.col("quality")), 6).alias("avg_quality"),
    )


# ---------------------------------------------------------------------------
# Gopher-style quality rule gate (Rae et al. 2021 §A1.1 rule family)
# ---------------------------------------------------------------------------
@register("gopher_quality_gate", tx.gopher_gate_oracle_sql())
def gopher_quality_gate_q(spark, sf_dir):
    """Per-doc Gopher rule verdicts (word-count bounds, mean-word-length
    bounds, stop-word evidence, repetition cap) — every rule an integer
    comparison, so no float boundary can flip a verdict between engines."""
    return tx.gopher_quality_gate(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Per-source duplication-rate profile (source down-weighting signal)
# ---------------------------------------------------------------------------
@register("source_dup_stats", dd.source_dup_oracle_sql())
def source_dup_stats_q(spark, sf_dir):
    """Per-source exact-duplication profile: corpus-wide digest counts
    joined back per doc — only 32-byte hashes shuffle, never text."""
    return dd.source_dup_stats(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Passage-level exact duplication (span-granularity dedup signal)
# ---------------------------------------------------------------------------
@register("passage_dup_fraction", dd.passage_dup_oracle_sql())
def passage_dup_fraction(spark, sf_dir):
    """Per-doc duplicated-passage fraction: non-overlapping 12-token
    passages hashed and counted corpus-wide (the span-level cousin of
    exact dedup, after Lee et al.'s substring dedup). One 32-byte digest
    shuffle; text never moves."""
    return dd.passage_dup_stats(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Cross-source priority dedup with per-source loss accounting
# ---------------------------------------------------------------------------
@register("cross_source_dedup", dd.cross_source_oracle_sql())
def cross_source_dedup(spark, sf_dir):
    """Prioritized dedup across sources: survivor = lexicographically-first
    source per digest; per-source kept / lost-within / lost-cross ledger
    from ONE digest-window pass (rank and winner-source share the frame)."""
    return dd.cross_source_survivors(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Quality-aware dup-cluster survivor selection (keep the BEST copy)
# ---------------------------------------------------------------------------
@register(
    "quality_dedup_survivors",
    r"""
    WITH RECURSIVE norm AS ("""
    + r"""
        SELECT doc_id, lang,
               string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
        FROM documents),
    gidx AS (
        SELECT doc_id, lang,
               unnest(CASE WHEN len(ws) >= 3 THEN range(1, len(ws) - 1) ELSE [] END) AS i,
               ws
        FROM norm),
    gram_rows AS (
        SELECT DISTINCT doc_id, lang, ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS g
        FROM gidx),
    gsets AS (
        SELECT doc_id, lang, list_distinct(list(g)) AS grams
        FROM gram_rows GROUP BY doc_id, lang),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM gsets a JOIN gsets b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.grams, b.grams))::DOUBLE
              / (len(a.grams) + len(b.grams)
                 - len(list_intersect(a.grams, b.grams))) >= 0.5),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
    reach AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
    assign AS (
        SELECT a AS doc_id, LEAST(a, MIN(b)) AS canonical_id FROM reach GROUP BY a),
    q AS ("""
    + tx.quality_oracle_sql()
    + r"""),
    ranked AS (
        SELECT canonical_id, assign.doc_id, quality,
               ROW_NUMBER() OVER (PARTITION BY canonical_id
                                  ORDER BY quality DESC, assign.doc_id) AS r,
               COUNT(*) OVER (PARTITION BY canonical_id) AS nm
        FROM assign JOIN q ON assign.doc_id = q.doc_id)
    SELECT canonical_id, doc_id AS survivor_id, quality AS survivor_quality,
           CAST(nm AS BIGINT) AS n_members
    FROM ranked WHERE r = 1
    """,
)
def quality_dedup_survivors(spark, sf_dir):
    """Curation-grade dedup: within each near-dup cluster keep the BEST
    copy by quality score, not an arbitrary lowest-id one (ties: lowest
    id). Composition: n-gram Jaccard pairs -> pointer-doubling connected
    components -> broadcast-joined quality -> per-cluster argmax. The only
    new work over cluster assignment is a cluster-keyed top-1 window."""
    d = _t(spark, sf_dir, "documents")
    pairs = dd.ngram_jaccard_pairs(d, block_col="lang", threshold=0.5)
    clusters = dd.dedup_clusters(pairs)
    q = tx.with_quality_score(d).select("doc_id", "quality")
    j = clusters.join(q, "doc_id")
    nm = Window.partitionBy("canonical_id")
    ranked = j.withColumn("nm", F.count(F.lit(1)).over(nm))
    return (
        win.topk_per_group(
            ranked,
            ["canonical_id"],
            [F.col("quality").desc(), F.col("doc_id").asc()],
            k=1,
            rank_col="_r",
        )
        .select(
            "canonical_id",
            F.col("doc_id").alias("survivor_id"),
            F.col("quality").alias("survivor_quality"),
            F.col("nm").cast("long").alias("n_members"),
        )
    )



# ---------------------------------------------------------------------------
# Bigram-likelihood quality signal (LM-filter proxy without transcendentals)
# ---------------------------------------------------------------------------
@register(
    "doc_bigram_likelihood",
    r"""
    WITH words AS (
        SELECT doc_id,
               string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
        FROM documents),
    bi AS (
        SELECT doc_id, ws[i] AS l, ws[i + 1] AS r
        FROM (SELECT doc_id, ws,
                     unnest(range(1, len(ws))) AS i
              FROM words WHERE len(ws) >= 2)),
    c2 AS (SELECT l, r, COUNT(*) AS n2 FROM bi GROUP BY l, r),
    c1 AS (SELECT l, COUNT(*) AS n1 FROM bi GROUP BY l),
    probs AS (
        SELECT l, r,
               CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p
        FROM c2 JOIN c1 USING (l))
    SELECT doc_id,
           COUNT(*) AS n_bigrams,
           ROUND(CAST(SUM(CAST(p AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6)
               AS avg_bigram_prob
    FROM bi JOIN probs USING (l, r)
    GROUP BY doc_id
    """,
)
def doc_bigram_likelihood(spark, sf_dir):
    """Per-doc mean corpus-bigram probability P(w_i | w_{i-1}) — the
    LM-based quality-filter proxy, with the likelihood kept as a RATIO
    (one IEEE division of exact counts, fixed to decimal before the mean)
    instead of a log so both engines agree bit-for-bit. Plan: one bigram
    pass, a bigram-vocab-sized probability table broadcast back onto the
    doc stream, per-doc decimal mean."""
    from .operators.dedup import normalized_text

    d = _t(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.split(normalized_text("text"), " ").alias("_ws")
    ).filter(F.size("_ws") >= 2)
    bi = words.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("_ws") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("_ws"), i).alias("l"),
                    F.element_at(F.col("_ws"), i + 1).alias("r"),
                ),
            )
        ).alias("_b"),
    ).select("doc_id", F.col("_b.l").alias("l"), F.col("_b.r").alias("r"))
    # ONE bigram pass: compress to (doc, l, r, count) and checkpoint —
    # c2/c1/the score join each compiled their own corpus tokenize before
    # (plan_audit detector 4). Decimal sums over the compressed form are
    # exact, so sum(p * c) == the old per-occurrence sum(p) bit-for-bit.
    bic = (
        bi.groupBy("doc_id", "l", "r")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(lineage_cut)
    )
    c2 = bic.groupBy("l", "r").agg(F.sum("c").alias("n2"))
    c1 = bic.groupBy("l").agg(F.sum("c").alias("n1"))
    probs = F.broadcast(
        c2.join(c1, "l").select(
            "l",
            "r",
            (F.col("n2").cast("double") / F.col("n1").cast("double"))
            .cast("decimal(18,9)")
            .alias("p"),
        )
    )
    return (
        bic.join(probs, ["l", "r"])
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.round(
                F.sum(F.col("p") * F.col("c")).cast("double") / F.sum("c"), 6
            ).alias("avg_bigram_prob"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus data card (one-row dataset summary)
# ---------------------------------------------------------------------------
@register(
    "corpus_datacard",
    r"""
    WITH words AS (
        SELECT doc_id,
               unnest(string_split(
                   regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
        FROM documents),
    tok AS (SELECT COUNT(*) AS n_tokens,
                   COUNT(DISTINCT w) AS n_distinct_tokens FROM words),
    base AS (
        SELECT COUNT(*) AS n_docs,
               COUNT(DISTINCT lang) AS n_langs,
               COUNT(DISTINCT source) AS n_sources
        FROM documents),
    h AS (SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS hh
          FROM documents),
    hc AS (SELECT hh, COUNT(*) AS n FROM h GROUP BY hh),
    dup AS (SELECT CAST(SUM(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT)
                   AS n_dup_docs FROM hc)
    SELECT n_docs, n_langs, n_sources, n_tokens, n_distinct_tokens, n_dup_docs,
           ROUND(n_dup_docs::DOUBLE / n_docs, 6) AS dup_ratio,
           ROUND(n_tokens::DOUBLE / n_docs, 6) AS avg_tokens_per_doc
    FROM base, tok, dup
    """,
)
def corpus_datacard(spark, sf_dir):
    """One-row dataset summary (the 'data card' a corpus release ships):
    doc/lang/source counts, token totals, exact-dup ratio, mean doc
    length. The corpus normalize runs ONCE into a localCheckpoint (the
    tv_drift pattern, text.py:1175): its three consumers (token stats,
    doc/lang/source counts, dup-hash groups) previously each compiled
    their own scan+normalize subtree — the exact redundancy plan_audit
    detector 3 exists to kill, sitting below its 6-scan threshold (the
    round-11 verdict's finding 2; BENCH_r11 flagged this query 5.95x).
    The checkpoint pins normalized text in executor storage for the
    query's lifetime — the same trade tv_drift makes, and strictly
    cheaper than three full normalize passes at any scale."""
    from .operators.dedup import normalized_text

    d = _t(spark, sf_dir, "documents")
    proj = d.select(
        "lang", "source", normalized_text("text").alias("nt")
    ).transform(lineage_cut)
    words = proj.select(F.explode(F.split("nt", " ")).alias("w"))
    tok = words.agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.count_distinct("w").alias("n_distinct_tokens"),
    )
    base = proj.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("lang").alias("n_langs"),
        F.count_distinct("source").alias("n_sources"),
    )
    hc = proj.select(F.md5(F.col("nt")).alias("hh")).groupBy("hh").agg(
        F.count(F.lit(1)).alias("n")
    )
    dup = hc.agg(
        F.sum(F.when(F.col("n") > 1, F.col("n")).otherwise(0)).alias("n_dup_docs")
    )
    return (
        base.crossJoin(F.broadcast(tok))
        .crossJoin(F.broadcast(dup))
        .select(
            "n_docs",
            "n_langs",
            "n_sources",
            "n_tokens",
            "n_distinct_tokens",
            "n_dup_docs",
            F.round(
                F.col("n_dup_docs").cast("double") / F.col("n_docs"), 6
            ).alias("dup_ratio"),
            F.round(
                F.col("n_tokens").cast("double") / F.col("n_docs"), 6
            ).alias("avg_tokens_per_doc"),
        )
    )


# ---------------------------------------------------------------------------
# Content-defined chunking dedup (shift-robust span dedup)
# ---------------------------------------------------------------------------
@register("cdc_chunk_dup", dd.cdc_chunk_oracle_sql())
def cdc_chunk_dup(spark, sf_dir):
    """Per-doc duplicated-chunk fraction with CONTENT-DEFINED boundaries
    (token md5 mod 8 == 0 starts a chunk, the Rabin/LBFS trick): unlike
    fixed windows, an insertion re-localizes to one chunk instead of
    shifting every window. Digest-only shuffle, doc-partitioned cumsum."""
    return dd.cdc_chunk_stats(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Source-overlap matrix (which feeds re-serve each other's content)
# ---------------------------------------------------------------------------
@register("source_overlap_matrix", dd.source_overlap_oracle_sql())
def source_overlap_matrix_q(spark, sf_dir):
    """Pairwise shared-digest counts + Jaccard between sources; pairs are
    generated per digest from its source list — work tracks duplicate
    density, never |sources|^2 x corpus."""
    return dd.source_overlap_matrix(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Vocabulary coverage / OOV-rate (tokenizer-coverage signal)
# ---------------------------------------------------------------------------
@register("doc_oov_rate", tx.oov_rate_oracle_sql())
def doc_oov_rate(spark, sf_dir):
    """Per-doc OOV rate vs the corpus' own top-16 tokens: the vocab rank
    runs over the tiny distinct-token table only and broadcasts back; the
    token stream never shuffles by token."""
    return tx.oov_rate(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup): within-kmeans-cluster cosine near-dup pairs
# ---------------------------------------------------------------------------
@register(
    "semantic_dedup_pairs",
    sim.semantic_dedup_oracle_sql(
        threshold=0.3, lloyd_iters=2, target_cluster_size=64
    ),
)
def semantic_dedup_pairs_q(spark, sf_dir):
    """SemDeDup candidate structure: deterministic k-means cells bound the
    pair search (no all-pairs), within-cell cosine >= 0.3 pairs survive.
    The cluster-keyed self-join is the only corpus-wide shuffle. k is
    DERIVED as ceil(N/64) — cell population, and with it the quadratic
    within-cell pair cost, stays bounded at any corpus size (total work
    O(N*64), not O((N/k)^2 * k))."""
    return sim.semantic_dedup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.3, lloyd_iters=2,
        target_cluster_size=64,
    )


# ---------------------------------------------------------------------------
# Semantic dup components + survivors: SemDeDup end-to-end (pairs → connected
# components → pruned corpus). The component step reuses dedup_clusters'
# min-label propagation; the oracle chains the semantic-pair SQL into the
# same recursive-CTE transitive closure used for dedup_cluster_assignment.
# ---------------------------------------------------------------------------
_SEMANTIC_PAIRS_SQL = sim.semantic_dedup_oracle_sql(
    threshold=0.3, lloyd_iters=2, target_cluster_size=64
)


@register(
    "semantic_dup_clusters",
    f"""
    WITH RECURSIVE pairs AS ({_SEMANTIC_PAIRS_SQL}),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
    reach AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
    SELECT a AS vec_id, LEAST(a, MIN(b)) AS canonical_id FROM reach GROUP BY a
    """,
)
def semantic_dup_clusters_q(spark, sf_dir):
    """Connected components over the SemDeDup pair graph → canonical vector
    per semantic-duplicate group. Same O(diameter) min-label propagation as
    the text dup graph; the oracle closes the graph with a recursive CTE."""
    pairs = sim.semantic_dedup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.3, lloyd_iters=2,
        target_cluster_size=64,
    )
    return dd.dedup_clusters(pairs, id_col_a="id_a", id_col_b="id_b").select(
        F.col("doc_id").alias("vec_id"), "canonical_id"
    )


@register(
    "semantic_dedup_survivors",
    f"""
    WITH pairs AS ({_SEMANTIC_PAIRS_SQL})
    SELECT vec_id, label FROM embeddings
    WHERE vec_id NOT IN (SELECT id_b FROM pairs)
    """,
)
def semantic_dedup_survivors_q(spark, sf_dir):
    """SemDeDup pruning: drop every vector that near-duplicates a
    lower-id one (id_b side of a pair); keep the rest of the corpus.
    left_anti against the loser set — only ids shuffle."""
    em = _t(spark, sf_dir, "embeddings")
    pairs = sim.semantic_dedup_pairs(
        em, threshold=0.3, lloyd_iters=2, target_cluster_size=64
    )
    losers = pairs.select(F.col("id_b").alias("vec_id")).distinct()
    return em.select("vec_id", "label").join(losers, "vec_id", "left_anti")


# ---------------------------------------------------------------------------
# Directed n-gram containment (the asymmetric dedup signal Jaccard misses)
# ---------------------------------------------------------------------------
@register(
    "ngram_containment_pairs",
    dd.containment_oracle_sql(block_col="lang", threshold=0.8),
)
def ngram_containment_pairs_q(spark, sf_dir):
    """Directed containment pairs within language blocks: doc a with >= 80%
    of its shingles inside doc b — catches short-doc-quoted-in-long-doc
    duplication that symmetric Jaccard misses."""
    return dd.ngram_containment_pairs(
        _t(spark, sf_dir, "documents"), block_col="lang", threshold=0.8
    )


# ---------------------------------------------------------------------------
# Fuzzy decontamination: near-dup pairs crossing the corpus/benchmark line
# ---------------------------------------------------------------------------
@register(
    "fuzzy_decontamination",
    dd.fuzzy_decontamination_oracle_sql(bench_source="src0", threshold=0.5),
)
def fuzzy_decontamination_q(spark, sf_dir):
    """Near-duplicate contamination against a benchmark slice (source
    'src0' stands in for the eval set): MinHash-LSH pairs filtered to
    boundary-crossing ones, oriented (corpus_id, bench_id). Rides the same
    banded candidate structure as the dedup pass."""
    return dd.fuzzy_decontamination(
        _t(spark, sf_dir, "documents"), bench_source="src0", threshold=0.5
    )


# ---------------------------------------------------------------------------
# Corpus word-frequency spectrum (Zipf profile / vocabulary health)
# ---------------------------------------------------------------------------
@register(
    "word_freq_spectrum",
    """
    WITH words AS (
        SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
        FROM documents),
    wc AS (SELECT w, COUNT(*) AS n FROM words GROUP BY w)
    SELECT n AS n_occurrences, COUNT(*) AS n_words
    FROM wc GROUP BY n
    """,
)
def word_freq_spectrum_q(spark, sf_dir):
    """Frequency-of-frequencies table (how many words occur exactly n
    times) — the Zipf/vocabulary-health profile a tokenizer build checks.
    Two integer aggregates; second groups on the count (tiny domain)."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(F.explode(tx._words("text")).alias("w"))
    wc = words.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    return wc.groupBy(F.col("n").alias("n_occurrences")).agg(
        F.count(F.lit(1)).alias("n_words")
    )


# ---------------------------------------------------------------------------
# Square-root-scaled language rebalancing (temperature-style, T=2)
# ---------------------------------------------------------------------------
@register(
    "lang_sqrt_scaled_sample",
    smp.sqrt_scaled_sample_sql(total=300, group_expr="lang"),
)
def lang_sqrt_scaled_sample_q(spark, sf_dir):
    """sqrt-scaled mixture sampling over languages: quota_g ∝ sqrt(count_g)
    (upsamples low-resource langs vs proportional). sqrt + sequential
    sorted-order fold keep the quotas bit-reproducible across engines."""
    return smp.sqrt_scaled_quota_sample(
        _t(spark, sf_dir, "documents").select("doc_id", "lang"),
        group_col="lang", key_col="doc_id", total=300,
    )


# ---------------------------------------------------------------------------
# BPE merge training (in-engine tokenizer induction, Sennrich et al. 2016)
# ---------------------------------------------------------------------------
@register("bpe_top_merges", tx.bpe_oracle_sql())
def bpe_top_merges(spark, sf_dir):
    """First 6 BPE merges learned over the corpus word-frequency table:
    per round, one vocabulary-sized pair aggregate + a 1-row argmax
    collect + a boundary-safe literal replace. The oracle unrolls the
    identical rounds as chained CTEs (the perceptron-oracle pattern)."""
    return tx.bpe_merges(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Hashing-trick doc features -> ANN over raw text (no external vectors)
# ---------------------------------------------------------------------------
@register(
    "doc_feature_topk",
    f"""
    WITH feats AS (SELECT * FROM {tx.hash_features_sql()} f WHERE nrm2 > 0),
    q AS (SELECT doc_id AS query_id, fv AS qv FROM feats WHERE doc_id < 5),
    c AS (SELECT doc_id AS neighbor_id, fv AS cv FROM feats),
    scored AS (
        SELECT q.query_id, c.neighbor_id,
               ROUND((list_sum([CAST(q.qv[i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE)
                                for i in range(1, 65)])
                      / (sqrt(list_sum([CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)
                                        for i in range(1, 65)]))
                         * sqrt(list_sum([CAST(c.cv[i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE)
                                          for i in range(1, 65)])))), 6) AS cos_sim
        FROM q CROSS JOIN c WHERE q.query_id <> c.neighbor_id),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cos_sim DESC, neighbor_id) AS rank
        FROM scored)
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= 3
    """,
)
def doc_feature_topk(spark, sf_dir):
    """ANN over RAW TEXT with no external vectors: hashing-trick signed
    bucket-count features (64-dim exact integers, Weinberger et al. 2009)
    give every doc a dense vector; brute-force cosine top-3 for the first
    5 docs. The bridge that lets the ANN/k-means machinery run on text
    corpora that ship without embeddings. Zero-norm vectors excluded on
    both sides (their cosine is undefined)."""
    d = _t(spark, sf_dir, "documents")
    # (doc, 64-dim vector, norm) rows materialize once: the query side and
    # the candidate side each compiled their own feature-hash tokenize
    # before the cut (plan_audit detector 4)
    feats = (
        tx.hash_doc_features(d)
        .filter(F.col("nrm2") > 0)
        .transform(lineage_cut)
    )
    q = F.broadcast(
        feats.filter(F.col("doc_id") < 5).select(
            F.col("doc_id").alias("query_id"), F.col("fv").alias("qv")
        )
    )
    c = feats.select(F.col("doc_id").alias("neighbor_id"), F.col("fv").alias("cv"))
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(sim.cosine(F.col("qv"), F.col("cv")), 6).alias("cos_sim"),
        )
    )
    return win.topk_per_group(
        scored,
        ["query_id"],
        [F.col("cos_sim").desc(), F.col("neighbor_id").asc()],
        k=3,
        rank_col="rank",
    ).select("query_id", "neighbor_id", "cos_sim", "rank")


# ---------------------------------------------------------------------------
# Naive Bayes language classifier (in-engine train + predict)
# ---------------------------------------------------------------------------
@register("nb_lang_predict", ml.nb_lang_oracle_sql())
def nb_lang_predict_q(spark, sf_dir):
    """Multinomial NB trained on the corpus' own lang labels, predicting
    every doc in the same plan (the label/text-agreement sanity check).
    Posterior = prior x sorted-token product fold — no log, bit-identical
    across engines; the langs x vocab likelihood table broadcasts back."""
    return ml.nb_lang_predict(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# BPE encode (train-and-apply: compression ratio per doc)
# ---------------------------------------------------------------------------
@register("bpe_encode_ratio", tx.bpe_encode_oracle_sql())
def bpe_encode_ratio(spark, sf_dir):
    """Apply the 6 learned BPE merges to every document and report the
    per-doc symbol compression ratio — the train-AND-apply loop of
    tokenizer development. Encoding is row-local chained literal
    replaces; symbol counts come from pipe arithmetic, no second
    tokenize pass."""
    return tx.bpe_encode_stats(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Token-budget mixture (budget in TOKENS, the unit training actually buys)
# ---------------------------------------------------------------------------
@register(
    "token_budget_mixture",
    smp.token_budget_sql({"src0": 3, "src1": 2, "src2": 1}, total_tokens=4000),
)
def token_budget_mixture_q(spark, sf_dir):
    """Budgeted 3:2:1 mixture in TOKENS: each source admits docs in
    content-addressed order until the next doc would exceed its integer
    token budget (prefix rule — selection is a pure function of order
    and budget). One rank+cumsum shuffle on the source key."""
    return smp.token_budget_mixture(
        _t(spark, sf_dir, "documents"),
        {"src0": 3, "src1": 2, "src2": 1},
        total_tokens=4000,
    )


# ---------------------------------------------------------------------------
# Curation v2: the round-4 ops composed end-to-end, composition-verified
# ---------------------------------------------------------------------------
@register(
    "curation_v2_shards",
    f"""
    WITH s0 AS MATERIALIZED (SELECT * FROM documents),
    cdc AS MATERIALIZED ({dd.cdc_chunk_oracle_sql(table="s0")}),
    s1 AS MATERIALIZED (
        SELECT d.* FROM s0 d JOIN cdc ON d.doc_id = cdc.doc_id
        WHERE cdc.dup_fraction <= 0.25),
    imp AS MATERIALIZED (
        {smp.importance_sample_sql(target_where="lang = 'en'", table="s1", top_n=300)}),
    s2 AS MATERIALIZED (
        SELECT d.* FROM s1 d JOIN imp ON d.doc_id = imp.doc_id)
    {smp.shard_order_sql(table="s2")}
    """,
)
def curation_v2_shards(spark, sf_dir):
    """End-to-end curation with the round-4 operators, composition-
    verified: CDC span-dedup gate (dup_fraction <= 0.25) -> DSIR
    importance selection (top-300 vs the English target, weights computed
    over the POST-GATE corpus, as the chained oracle does) -> training
    shard + epoch-order assignment of the survivors. Cheap row-local gate
    first; every stage's shuffle is digest/bucket/shard-keyed."""
    d = _t(spark, sf_dir, "documents")
    # the CDC gate's survivor ids materialize once (doc_id-only rows):
    # s1 feeds BOTH the DSIR scoring pass and the s2 survivor join, and
    # uncut each compiled its own copy of the whole CDC tokenize subtree
    # (plan_audit detector 4)
    cdc_pass = (
        dd.cdc_chunk_stats(d)
        .filter(F.col("dup_fraction") <= 0.25)
        .select("doc_id")
        .transform(lineage_cut)
    )
    s1 = d.join(cdc_pass, "doc_id")
    picked = smp.importance_weighted_sample(
        s1, target_pred=F.col("lang") == "en", top_n=300
    ).select("doc_id")
    s2 = s1.join(picked, "doc_id")
    return smp.training_shard_order(s2)


# ---------------------------------------------------------------------------
# Per-user EWMA (sequential-state smoother as one distributed aggregate)
# ---------------------------------------------------------------------------
@register("user_value_ewma", agg.ewma_oracle_sql())
def user_value_ewma(spark, sf_dir):
    """Per-user exponentially weighted moving average (alpha=1/2,
    zero-init) over event values in (ts, event_id) order — the pandas
    row-loop smoother as ONE groupBy aggregate. alpha=1/2 makes every
    weight an exact power of two, so the sequential fold is bit-identical
    to DuckDB's list_reduce twin."""
    return agg.ewma_by_key(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# Histogram quantile sketch (mergeable; error vs exact percentiles)
# ---------------------------------------------------------------------------
@register("hist_quantile_sketch", sk.hist_quantile_oracle_sql())
def hist_quantile_sketch(spark, sf_dir):
    """Per-event-type p50/p90 from a mergeable 64-bin equi-width histogram
    next to the exact percentiles and |error| — quantiles from 64 longs
    per group instead of the full value multiset. One (group, bin) count
    shuffle; the global bounds are a broadcast 1-row aggregate."""
    return sk.hist_quantile_error(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# DSIR-style importance-weighted selection (Xie et al., NeurIPS 2023 shape)
# ---------------------------------------------------------------------------
@register(
    "importance_weighted_docs",
    smp.importance_sample_sql(target_where="lang = 'en'"),
)
def importance_weighted_docs(spark, sf_dir):
    """Top-100 docs by DSIR-style importance weight vs an English target
    domain: hashed-unigram (256-bucket) likelihood ratios with add-one
    smoothing, per-doc mean ratio. The bucket weight table is B rows —
    broadcast back onto the token stream, which never shuffles by token."""
    return smp.importance_weighted_sample(
        _t(spark, sf_dir, "documents"), target_pred=F.col("lang") == "en"
    )


# ---------------------------------------------------------------------------
# Systematic weight-proportional resampling (particle-filter classic)
# ---------------------------------------------------------------------------
@register(
    "systematic_weighted_draws",
    smp.systematic_sample_sql(weight_expr="n_chars"),
)
def systematic_weighted_draws(spark, sf_dir):
    """100 systematic weight-proportional draws over docs (weight =
    n_chars): evenly spaced picks on the cumulative-weight line, so heavy
    docs repeat with exact weight-proportional multiplicity, with no RNG
    and no transcendental math. Spark side computes the prefix sums with a
    two-level blocked cumsum (only block totals cross the ordered window);
    cumulative weights are exact integers, so it agrees bit-for-bit with
    the oracle's flat cumsum."""
    return smp.systematic_weighted_sample(
        _t(spark, sf_dir, "documents"), weight_col="n_chars"
    )


# ---------------------------------------------------------------------------
# Deterministic training shard + epoch-order assignment
# ---------------------------------------------------------------------------
@register("training_shard_order", smp.shard_order_sql())
def training_shard_order_q(spark, sf_dir):
    """Dataloader-ready global shuffle without a global sort: md5 hash
    shard (16-way, append-stable) + independent-md5 within-shard position.
    One shuffle on the shard key; each shard streams in pos order."""
    return smp.training_shard_order(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Greedy contiguous sequence packing (context-window assembly)
# ---------------------------------------------------------------------------
@register(
    "greedy_pack_assignments",
    smp.pack_sequences_sql(
        2000,
        table="(SELECT * FROM documents WHERE n_chars IS NOT NULL)",
    ),
)
def greedy_pack_assignments_q(spark, sf_dir):
    """Greedy contiguous packing of documents into 2000-token context
    windows in the deterministic per-shard training order: each doc's
    (shard, pos, seq, seq_pos, oversize) assignment. The shard is the
    parallelism unit (one applyInPandas group per shard — thousands at
    corpus scale), only (id, tokens) flows through Arrow, and the fold
    is exact integer arithmetic, so the assignment is bit-identical to
    the oracle's per-shard recursive walk. Docs with a NULL token count
    are excluded on BOTH sides before packing (the operator itself
    rejects them loudly — untokenized docs cannot be assigned a
    window). Complements doc_packed_sequences (concat-and-split): this
    packer never splits a document across windows."""
    return smp.pack_sequences(
        _t(spark, sf_dir, "documents").filter(F.col("n_chars").isNotNull()),
        budget=2000,
        token_col="n_chars",
    )


@register(
    "pack_window_manifest",
    smp.pack_manifest_sql(
        2000,
        table="(SELECT * FROM documents WHERE n_chars IS NOT NULL)",
    ),
)
def pack_window_manifest_q(spark, sf_dir):
    """Per-window packing manifest at budget 2000: how many docs and
    tokens each context window holds, whether it is an oversize
    singleton, and its fill rate — the padding-efficiency report a
    training job reads before committing to a budget. Same NULL-token
    exclusion as greedy_pack_assignments; window count ~ corpus_tokens /
    budget, so the aggregate key space grows linearly and map-side
    combines."""
    return smp.pack_manifest(
        _t(spark, sf_dir, "documents").filter(F.col("n_chars").isNotNull()),
        budget=2000,
        token_col="n_chars",
    )


_BPE_PACK_BUDGET = 384  # fixture n_syms span 30-397: multi-doc windows
# AND a tail of oversize singletons, so both packer paths are gated


@register(
    "bpe_pack_pipeline",
    f"""
    WITH enc AS (
        SELECT doc_id, n_syms AS n_bpe_tokens
        FROM ({tx.bpe_encode_oracle_sql()})
    )
    SELECT * FROM ({smp.pack_manifest_sql(
        _BPE_PACK_BUDGET, table="enc", token_expr="n_bpe_tokens"
    )}) m
    """,
)
def bpe_pack_pipeline_q(spark, sf_dir):
    """Tokenize→pack end-to-end: BPE-encode every document with the
    corpus-trained merges (bpe_encode_stats — the REAL token counts,
    not the n_chars proxy), then assemble the encoded docs into
    384-token context windows and report the per-window manifest. This
    is the actual shape of a pretraining data job's last mile — pack
    what the tokenizer will emit, not a character-count stand-in — and
    it exercises the packer's keep_token_col path under a joined
    upstream (the token column arrives from the encode aggregate, not
    a parquet scan). One lazy plan: the vocabulary-sized BPE lookup
    broadcasts into the encode join, the per-doc token sums flow
    straight into the shard fold, and the manifest aggregates
    (shard, seq) keys — nothing corpus-sized ever converges on one
    task. Oracle = the BPE encode CTE chained into the recursive
    packing walk (the curation_pipeline_pack composition pattern)."""
    enc = tx.bpe_encode_stats(_t(spark, sf_dir, "documents"))
    return smp.pack_manifest(
        enc.select("doc_id", F.col("n_syms").alias("n_bpe_tokens")),
        budget=_BPE_PACK_BUDGET,
        token_col="n_bpe_tokens",
    )


# ---------------------------------------------------------------------------
# Curriculum ordering: quality-quartile bins + content-addressed order
# ---------------------------------------------------------------------------
@register(
    "curriculum_order",
    f"""
    WITH q AS ({tx.quality_oracle_sql()}),
    cuts AS (
        SELECT quantile_cont(quality, 0.25) AS p25,
               quantile_cont(quality, 0.50) AS p50,
               quantile_cont(quality, 0.75) AS p75
        FROM q
    ),
    binned AS (
        SELECT doc_id, quality,
               CASE WHEN quality >= p75 THEN 0
                    WHEN quality >= p50 THEN 1
                    WHEN quality >= p25 THEN 2
                    ELSE 3 END AS bin
        FROM q, cuts
    )
    SELECT doc_id, bin,
           ROW_NUMBER() OVER (
               PARTITION BY bin
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS pos_in_bin
    FROM binned
    """,
)
def curriculum_order_q(spark, sf_dir):
    """Curriculum data ordering: quality quartile bins (easy/high-quality
    first) with a deterministic content-addressed shuffle inside each bin.
    The (bin, pos_in_bin) pair defines the total training order WITHOUT a
    global sort: bin cuts are one broadcast 3-quantile row, within-bin
    rank is a partitioned window — nothing funnels through one task the
    way a corpus-wide row_number would."""
    docs = _t(spark, sf_dir, "documents")
    q = tx.with_quality_score(docs).select("doc_id", "quality")
    cuts = q.agg(
        F.percentile("quality", 0.25).alias("p25"),
        F.percentile("quality", 0.50).alias("p50"),
        F.percentile("quality", 0.75).alias("p75"),
    )
    binned = q.join(F.broadcast(cuts)).select(
        "doc_id",
        F.when(F.col("quality") >= F.col("p75"), 0)
        .when(F.col("quality") >= F.col("p50"), 1)
        .when(F.col("quality") >= F.col("p25"), 2)
        .otherwise(3)
        .alias("bin"),
    )
    w = Window.partitionBy("bin").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return binned.select(
        "doc_id", "bin", F.row_number().over(w).alias("pos_in_bin")
    )


# ---------------------------------------------------------------------------
# The full curation pipeline, verified END-TO-END: every stage's oracle
# chained into one SQL so the gate checks the composition, not just parts
# ---------------------------------------------------------------------------
def _curation_oracle():
    from .pipelines.curation import curated_pack_oracle_sql

    return curated_pack_oracle_sql()


@register("curation_pipeline_pack", _curation_oracle())
def curation_pipeline_pack_q(spark, sf_dir):
    """Gopher gate → exact dedup → MinHash near-dedup → decontamination →
    sqrt-scaled rebalance → sequence packing, as one lazy plan. Cheap
    linear filters shrink the corpus before the pair stage; the oracle is
    the per-stage SQLs chained as CTEs — the composition itself is
    hash-checked."""
    from .pipelines.curation import curated_pack

    return curated_pack(spark, sf_dir)


# ---------------------------------------------------------------------------
# Bigram lift (PMI without the log — collocation mining stays exact)
# ---------------------------------------------------------------------------
@register(
    "bigram_lift_top",
    """
    WITH ws AS (
        SELECT doc_id,
               string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                            ' ') AS w
        FROM documents),
    words AS (SELECT unnest(w) AS word FROM ws),
    uni AS (SELECT word, COUNT(*) AS n FROM words GROUP BY word),
    tot AS (SELECT SUM(n) AS w_total FROM uni),
    grams AS (
        SELECT w[i] AS w1, w[i + 1] AS w2
        FROM (SELECT w, unnest(range(1, len(w))) AS i FROM ws)),
    big AS (SELECT w1, w2, COUNT(*) AS n_xy FROM grams GROUP BY w1, w2),
    btot AS (SELECT SUM(n_xy) AS b_total FROM big)
    SELECT b.w1 || ' ' || b.w2 AS gram, b.n_xy,
           ROUND((CAST(b.n_xy AS DOUBLE) * t.w_total * t.w_total)
                 / (CAST(bt.b_total AS DOUBLE) * u1.n * u2.n), 6) AS lift
    FROM big b
    JOIN uni u1 ON u1.word = b.w1
    JOIN uni u2 ON u2.word = b.w2, tot t, btot bt
    WHERE b.n_xy >= 5
      AND (CAST(b.n_xy AS DOUBLE) * t.w_total * t.w_total)
          / (CAST(bt.b_total AS DOUBLE) * u1.n * u2.n) >= 1.05
    """,
)
def bigram_lift_top_q(spark, sf_dir):
    """Collocation mining by lift = p(xy) / (p(x)p(y)) — PMI's ratio
    without the log, so every value is one double expression over exact
    integer counts (transcendental-free, engine-portable). One bigram
    count shuffle + two broadcast unigram joins + two scalar totals."""
    docs = _t(spark, sf_dir, "documents")
    grams = dd.gram_rows(docs.select("doc_id", "text"), n=2)
    split_g = grams.select(
        F.split("gram", " ").getItem(0).alias("w1"),
        F.split("gram", " ").getItem(1).alias("w2"),
    )
    big = split_g.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_xy"))
    words = docs.select(F.explode(tx._words("text")).alias("word"))
    uni = words.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    tot = uni.agg(F.sum("n").alias("w_total"))
    btot = big.agg(F.sum("n_xy").alias("b_total"))
    u1 = uni.select(F.col("word").alias("w1"), F.col("n").alias("n1"))
    u2 = uni.select(F.col("word").alias("w2"), F.col("n").alias("n2"))
    lift = (
        F.col("n_xy").cast("double") * F.col("w_total") * F.col("w_total")
    ) / (F.col("b_total").cast("double") * F.col("n1") * F.col("n2"))
    return (
        big.filter(F.col("n_xy") >= 5)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(btot))
        .withColumn("lift", lift)
        .filter(F.col("lift") >= 1.05)
        .select(
            F.concat_ws(" ", "w1", "w2").alias("gram"),
            "n_xy",
            F.round("lift", 6).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# Event-type transition matrix (per-user Markov counts — session modeling)
# ---------------------------------------------------------------------------
@register(
    "event_type_transitions",
    """
    WITH seq AS (
        SELECT event_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        FROM events)
    SELECT event_type, next_type, COUNT(*) AS n
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
)
def event_type_transitions_q(spark, sf_dir):
    """First-order Markov transition counts of per-user event sequences —
    the session-modeling aggregate. One user-partitioned window (parallel
    across users) + one small (from, to) count shuffle."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    return (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Full-outer reconciliation (the audit join: both / left-only / right-only)
# ---------------------------------------------------------------------------
@register(
    "click_purchase_recon",
    """
    WITH clicks AS (
        SELECT user_id, COUNT(*) AS n_clicks FROM events
        WHERE event_type = 'click' GROUP BY user_id),
    buys AS (
        SELECT user_id, COUNT(*) AS n_purchases FROM events
        WHERE event_type = 'purchase' GROUP BY user_id)
    SELECT COALESCE(c.user_id, b.user_id) AS user_id,
           COALESCE(c.n_clicks, 0) AS n_clicks,
           COALESCE(b.n_purchases, 0) AS n_purchases,
           CASE WHEN c.user_id IS NULL THEN 'purchase_only'
                WHEN b.user_id IS NULL THEN 'click_only'
                ELSE 'both' END AS recon_status
    FROM clicks c FULL OUTER JOIN buys b ON c.user_id = b.user_id
    """,
)
def click_purchase_recon_q(spark, sf_dir):
    """Full-outer reconciliation of per-user click vs purchase activity —
    the audit-join shape (both sides pre-aggregated to one row per key, so
    the outer join is key-to-key, never row-amplifying)."""
    ev = _t(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )
    buys = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    c = clicks.select(F.col("user_id").alias("_cu"), "n_clicks")
    b = buys.select(F.col("user_id").alias("_bu"), "n_purchases")
    j = c.join(b, c._cu == b._bu, "full_outer")
    return j.select(
        F.coalesce("_cu", "_bu").alias("user_id"),
        F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
        F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
        F.when(F.col("_cu").isNull(), "purchase_only")
        .when(F.col("_bu").isNull(), "click_only")
        .otherwise("both")
        .alias("recon_status"),
    )


# ---------------------------------------------------------------------------
# U5 completed end-to-end: a model TRAINED in-engine (Gini-argmin decision
# stump) and scored, all oracle-reproducible — the trained-model complement
# to ml_linear_scores' fixed-weight inference
# ---------------------------------------------------------------------------
@register("stump_train_score", ml.stump_train_score_sql())
def stump_train_score_q(spark, sf_dir):
    """Depth-1 decision tree trained by exact Gini argmin over hour-of-day
    (24-row broadcast-scale train step), majority-class scoring via one
    broadcast join. Same double expression over the same integer counts on
    both engines → the split choice and every prediction hash-match."""
    ev = _t(spark, sf_dir, "events")
    return ml.stump_train_score(
        ev,
        feature=F.hour("ts"),
        label=(F.col("event_type") == "purchase"),
    )


# ---------------------------------------------------------------------------
# MinHash approximation quality: estimate vs exact Jaccard on candidate pairs
# (the measurement that justifies trusting banded MinHash at corpus scale)
# ---------------------------------------------------------------------------
@register("minhash_jaccard_error", dd.minhash_estimate_error_oracle_sql())
def minhash_jaccard_error_q(spark, sf_dir):
    """Per LSH-candidate-pair: 16-hash agreement fraction (MinHash
    estimate), exact 3-gram Jaccard, absolute error. Signatures
    materialize once and feed both the band join and the agreement count;
    estimates are k/16 binary fractions, so the error is bit-stable."""
    return dd.minhash_estimate_error(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Context-length profile: per-language token-length histogram (the
# sequence-length planning input for packing / curriculum decisions)
# ---------------------------------------------------------------------------
@register(
    "doc_length_histogram",
    """
    SELECT lang,
           (len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                             ' ')) // 10) * 10 AS bucket_lo,
           COUNT(*) AS n_docs
    FROM documents
    GROUP BY 1, 2
    """,
)
def doc_length_histogram_q(spark, sf_dir):
    """Token-count histogram (width-10 integer buckets) per language — one
    scan + one small aggregate; the bucket arithmetic is integer-exact so
    histograms reproduce bit-for-bit on any engine/partitioning."""
    docs = _t(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(dd.normalized_text("text"), " "))
    return (
        docs.groupBy(
            "lang",
            ((n_tokens / 10).cast("int") * 10).cast("long").alias("bucket_lo"),
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# Intra-document repetition: repeated 8-gram occurrence fraction (Lee et al.
# 2022, "Deduplicating Training Data Makes Language Models Better" — the
# within-doc signal complementing cross-doc near-dedup)
# ---------------------------------------------------------------------------
@register(
    "doc_repeated_ngram_fraction",
    """
    WITH words AS (
        SELECT doc_id,
               string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                            ' ') AS ws
        FROM documents
    ),
    grams AS (
        SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
               ws[i+3] || ' ' || ws[i+4] || ' ' || ws[i+5] || ' ' ||
               ws[i+6] || ' ' || ws[i+7] AS g
        FROM (SELECT doc_id, ws,
                     unnest(CASE WHEN len(ws) >= 8
                            THEN range(1, len(ws) - 6) ELSE [] END) AS i
              FROM words)
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           COUNT(DISTINCT g) AS n_distinct,
           ROUND((COUNT(*) - COUNT(DISTINCT g))::DOUBLE / COUNT(*), 6)
               AS rep_fraction
    FROM grams GROUP BY doc_id
    """,
)
def doc_repeated_ngram_fraction_q(spark, sf_dir):
    """Fraction of 8-gram OCCURRENCES that are repeats of an earlier
    8-gram in the same doc — the memorization-risk signal. One
    posexplode+lead pass (linear per word), one per-doc integer aggregate;
    the ratio is a single IEEE division of exact integers."""
    docs = _t(spark, sf_dir, "documents")
    grams = dd.gram_rows(docs, "text", "doc_id", n=8)
    return grams.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count_distinct("gram").alias("n_distinct"),
        F.round(
            (F.count(F.lit(1)) - F.count_distinct("gram")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("rep_fraction"),
    )


# ---------------------------------------------------------------------------
# KMV distinct-count sketch: the gated, error-measured approximate-distinct
# path (HLL's approx_daily_users is rows-only by nature; KMV's md5-derived
# k-smallest hashes are bit-deterministic, so the ESTIMATE itself hash-gates)
# ---------------------------------------------------------------------------
@register("kmv_daily_users", sk.kmv_oracle_sql())
def kmv_daily_users_q(spark, sf_dir):
    """Distinct users per day via a k=64 KMV sketch, next to the exact
    count and relative error. One digest-only distinct shuffle + a per-day
    top-k window; sketch state is 64 longs per day and sketches merge by
    k-smallest-of-union (the 100 TB incremental-stats pattern)."""
    ev = _t(spark, sf_dir, "events")
    return sk.kmv_distinct(
        ev.withColumn("date", F.date_format("ts", "yyyy-MM-dd")),
        ["date"],
        "user_id",
    )


# ---------------------------------------------------------------------------
# Count-Min frequency sketch: gated estimate-vs-exact for head n-grams
# ---------------------------------------------------------------------------
@register("cm_gram_count_error", sk.cm_oracle_sql())
def cm_gram_count_error_q(spark, sf_dir):
    """Count-Min (d=4, w=1024) estimates next to exact counts for head
    3-grams, with the per-gram overestimate. The counter table is 4096
    rows at ANY corpus size (the whole point of the sketch); estimates are
    integer mins, so the error measurement itself hash-gates."""
    return sk.cm_gram_count_error(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Bloom prefilter for decontamination: broadcast bitmap, measured FP cost
# ---------------------------------------------------------------------------
@register("bloom_decontamination_stats", sk.bloom_oracle_sql())
def bloom_decontamination_stats_q(spark, sf_dir):
    """The at-scale decontamination ordering: a 64Kbit Bloom bitmap over
    the benchmark's 3-grams (src0, as in doc_decontamination) broadcast
    against the corpus; only bloom-positive grams reach the exact
    membership join. Per doc: grams, bloom hits, exact hits, measured
    false positives — deterministic md5 positions, fully hash-gated."""
    d = _t(spark, sf_dir, "documents")
    return sk.bloom_decontamination_stats(
        d.filter(F.col("source") != "src0"), d.filter(F.col("source") == "src0")
    )


# ---------------------------------------------------------------------------
# U5 iterative training: batch perceptron with exact integer epochs (the
# multi-pass complement to the one-shot Gini stump)
# ---------------------------------------------------------------------------
@register("perceptron_train_score", ml.perceptron_train_score_sql())
def perceptron_train_score_q(spark, sf_dir):
    """3-epoch batch perceptron on (1, hour, weekday) vs is-purchase:
    every epoch is one map-side-combinable integer aggregate; weights stay
    exact integers, so training itself — not just scoring — hash-matches
    the oracle's unrolled-CTE epochs. (DuckDB dow is 0-indexed from
    Sunday; Spark dayofweek is 1-indexed, hence the -1.)"""
    ev = _t(spark, sf_dir, "events")
    return ml.perceptron_train_score(
        ev,
        features=[F.hour("ts"), F.dayofweek("ts") - 1],
        label=(F.col("event_type") == "purchase"),
    )


# ---------------------------------------------------------------------------
# Per-group closed-form linear regression (trend detection, one aggregate)
# ---------------------------------------------------------------------------
@register("event_value_trend_by_type", agg.groupwise_linreg_oracle_sql())
def event_value_trend_by_type_q(spark, sf_dir):
    """value-vs-hour-of-day trend per event type: slope/intercept from the
    five sufficient statistics in ONE map-side-combinable pass. Integer
    sums for n/Sx/Sxx, decimal-exact sums for Sy/Sxy, then fixed-order
    double algebra — bit-stable, and deliberately NOT regr_slope (whose
    internal accumulation order is engine-defined)."""
    ev = _t(spark, sf_dir, "events")
    return agg.groupwise_linreg(
        ev, ["event_type"], x=F.hour("ts"), y=F.col("value")
    )


# ---------------------------------------------------------------------------
# JL random-projection distortion: gated dimensionality-reduction quality
# ---------------------------------------------------------------------------
@register("jl_projection_distortion", sim.jl_distortion_oracle_sql())
def jl_projection_distortion_q(spark, sf_dir):
    """64d -> 16d signed random projection (Achlioptas +-1, seeded md5
    parity) with cosine-preservation measured on the deterministic chain
    pairs (id, id+1): cos_orig vs cos_proj vs abs_err. Row-local
    projection + one equi-join — the measurement that justifies projecting
    before expensive pair stages at 100 TB."""
    return sim.jl_distortion_pairs(_t(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# Data-quality expectation suite (dbt-test shape) as a gated query
# ---------------------------------------------------------------------------
@register(
    "orders_expectations_report",
    """
    SELECT 'orderkey_unique' AS check,
           CAST(COALESCE(SUM(CASE WHEN c > 1 THEN c END), 0) AS BIGINT)
               AS n_violations,
           CAST(SUM(c) AS BIGINT) AS n_checked,
           CAST(COALESCE(SUM(CASE WHEN c > 1 THEN c END), 0) = 0 AS INT)
               AS passed
    FROM (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey)
    UNION ALL
    SELECT 'custkey_not_null',
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(*),
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) = 0 AS INT)
    FROM orders
    UNION ALL
    SELECT 'status_accepted_values',
           CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                    THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(*),
           CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                    THEN 1 ELSE 0 END) = 0 AS INT)
    FROM orders
    UNION ALL
    SELECT 'totalprice_positive',
           CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(*),
           CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) = 0 AS INT)
    FROM orders
    UNION ALL
    SELECT 'custkey_fk_customer',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)),
           (SELECT COUNT(*) FROM orders),
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey)) = 0
                AS INT)
    """,
)
def orders_expectations_report_q(spark, sf_dir):
    """Declared quality suite over orders: primary-key uniqueness,
    not-null, accepted values, range, and FK-to-customer — row-local rules
    fold into ONE scan, uniqueness is one groupBy, RI is one anti-join
    (keys only). The report's exact integer counts make the quality gate
    itself a hash-gated query (operators/expectations.py)."""
    from .operators import expectations as ex

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return ex.expectations_report([
        ex.unique_expectation(o, ["o_orderkey"], "orderkey_unique"),
        ex.rowwise_expectations(o, {
            "custkey_not_null": F.col("o_custkey").isNull(),
            "status_accepted_values": ~F.col("o_orderstatus").isin("O", "F", "P"),
            "totalprice_positive": F.col("o_totalprice") <= 0,
        }),
        ex.fk_expectation(o, "o_custkey", c, "c_custkey", "custkey_fk_customer"),
    ])


# ---------------------------------------------------------------------------
# PageRank over the nation trade graph: iterative GRAPH analytics in-engine
# ---------------------------------------------------------------------------
@register("nation_trade_pagerank", gr.nation_trade_pagerank_oracle_sql())
def nation_trade_pagerank_q(spark, sf_dir):
    """PageRank over the customer-nation -> supplier-nation trade graph: 3
    power-iteration rounds with integer-scaled exact arithmetic (ranks are
    BIGINTs x 1e12; damping 85/100 and teleport/dangling terms are floor
    divisions applied identically per edge on both engines, so the learned
    CENTRALITY — not a float approximation of it — hash-matches the
    unrolled-CTE oracle). The heavy stage is edge derivation: lineitem x
    orders x customer x supplier aggregated down to the 625-edge nation
    graph (one (src,dst) shuffle over the fact table); each iteration then
    broadcasts the 25-row rank table back onto the edges — no driver
    collect anywhere (operators/graph.py)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .groupBy(
            c.c_nationkey.alias("src"), s.s_nationkey.alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    nodes = nat.select(F.col("n_nationkey").alias("v"))
    ranks = gr.pagerank(nodes, edges, n_iters=3)
    return ranks.join(
        F.broadcast(nat.select(F.col("n_nationkey").alias("v"), "n_name")), "v"
    ).select("n_name", "pr_scaled")


# ---------------------------------------------------------------------------
# Source-distribution drift: total-variation distance per source vs corpus
# ---------------------------------------------------------------------------
@register("source_token_tv_drift", tx.source_tv_drift_oracle_sql())
def source_token_tv_drift_q(spark, sf_dir):
    """Mixture-drift monitor: each source's unigram token distribution vs
    the corpus-wide distribution as a TOTAL-VARIATION distance (KL needs
    logs — engine-specific rounding; TV's numerator is an exact integer
    sum and only the final ratio is IEEE). One (source, token) shuffle;
    corpus counts re-aggregate from that table; absent-token tail is
    closed-form so no sparse outer join (operators/text.py)."""
    return tx.source_tv_drift(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Privacy audit: k-anonymity / l-diversity histogram over quasi-identifiers
# ---------------------------------------------------------------------------
@register(
    "k_anonymity_audit",
    pv.k_anonymity_oracle_sql(
        "customer",
        ["c_nationkey", "CAST(FLOOR(c_acctbal / 1000) AS BIGINT)"],
        "c_mktsegment",
        k=5,
    ),
)
def k_anonymity_audit_q(spark, sf_dir):
    """Release-gate privacy audit on customer: quasi-identifiers =
    (nation, account-balance band of 1000), sensitive = market segment.
    Reports the QI group-size histogram with the weakest l-diversity per
    size and flags sizes below k=5 — the re-identification-risk complement
    to the PII scrub. One QI-keyed shuffle + one histogram-sized re-agg;
    integer-exact so the audit itself hash-gates (operators/privacy.py)."""
    cust = _t(spark, sf_dir, "customer")
    return pv.k_anonymity_histogram(
        cust,
        [F.col("c_nationkey"), F.floor(F.col("c_acctbal") / 1000).cast("long")],
        "c_mktsegment",
        k=5,
    )


# ---------------------------------------------------------------------------
# Longest duplicated span per doc (Lee et al. 2022 exact-substring signal)
# ---------------------------------------------------------------------------
@register("doc_longest_dup_span", dd.longest_dup_span_oracle_sql())
def doc_longest_dup_span_q(spark, sf_dir):
    """Longest CONTIGUOUS run of corpus-duplicated 8-grams per doc — the
    span signal that tells 'one verbatim block' (cut the span) apart from
    'scattered repeats' (keep or drop whole doc), which the repeated-ngram
    FRACTION cannot distinguish. Gaps-and-islands over duplicated gram
    positions: one gram-count shuffle + one per-doc window; zero-filled
    for clean docs (operators/dedup.py::longest_dup_span)."""
    return dd.longest_dup_span(_t(spark, sf_dir, "documents"), n=8)


# ---------------------------------------------------------------------------
# Leakage-safe train/test split: split by near-dup CLUSTER, audit the leaks
# ---------------------------------------------------------------------------
@register(
    "leakage_safe_split",
    r"""
    WITH RECURSIVE norm AS (
        SELECT doc_id,
               string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws,
               lang
        FROM documents),
    gidx AS (
        SELECT doc_id, lang,
               unnest(CASE WHEN len(ws) >= 3 THEN range(1, len(ws) - 1) ELSE [] END) AS i,
               ws
        FROM norm),
    gram_rows AS (
        SELECT DISTINCT doc_id, lang, ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS g
        FROM gidx),
    gsets AS (
        SELECT doc_id, lang, list_distinct(list(g)) AS grams
        FROM gram_rows GROUP BY doc_id, lang),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM gsets a JOIN gsets b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.grams, b.grams))::DOUBLE
              / (len(a.grams) + len(b.grams)
                 - len(list_intersect(a.grams, b.grams))) >= 0.5),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
    reach AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
    assign AS (
        SELECT a AS doc_id, LEAST(a, MIN(b)) AS canonical_id FROM reach GROUP BY a),
    gids AS (
        SELECT d.doc_id, COALESCE(assign.canonical_id, d.doc_id) AS gid
        FROM documents d LEFT JOIN assign ON d.doc_id = assign.doc_id),
    assigned AS (
        SELECT doc_id, gid,
               CASE WHEN """
    + smp.hash_bucket_sql("gid", 100, "ls")
    + r""" < 75 THEN 'train' ELSE 'test' END AS split
        FROM gids),
    leaks AS (
        SELECT CAST(COALESCE(SUM(CASE WHEN sa.split <> sb.split
                                      THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS cross_split_pairs
        FROM pairs p
        JOIN assigned sa ON p.id_a = sa.doc_id
        JOIN assigned sb ON p.id_b = sb.doc_id)
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT gid) AS BIGINT) AS n_groups,
           leaks.cross_split_pairs
    FROM assigned CROSS JOIN leaks
    GROUP BY split, leaks.cross_split_pairs
    """,
)
def leakage_safe_split_q(spark, sf_dir):
    """Train/test split that CANNOT leak near-duplicates across the
    boundary: near-dup pairs (3-gram Jaccard >= 0.5, lang-blocked) ->
    connected components -> split by md5 of the CLUSTER id, so every
    duplicate cluster lands whole on one side; the report measures the
    remaining cross-split pair count (zero by construction — the oracle's
    recursive-CTE closure proves the same zero independently). The id-hash
    split (with_split) can't give this guarantee: two paraphrases with
    different ids straddle it ~2*p*(1-p) of the time
    (operators/sampling.py::leakage_safe_split_report)."""
    d = _t(spark, sf_dir, "documents")
    # the pair table feeds BOTH the clustering and the audit: checkpoint
    # it once instead of running the inverted-index join twice
    pairs = dd.ngram_jaccard_pairs(
        d, block_col="lang", threshold=0.5
    ).transform(lineage_cut)
    clusters = dd.dedup_clusters(pairs)
    return smp.leakage_safe_split_report(d, clusters, pairs, train_pct=75)


# ---------------------------------------------------------------------------
# Robust outlier gate: median/MAD per event type (lower-median selection)
# ---------------------------------------------------------------------------
@register("event_value_outliers", agg.robust_outlier_oracle_sql())
def event_value_outliers_q(spark, sf_dir):
    """Per-event-type robust outlier report: lower-median, MAD, and the
    count of values with |x - med| > 3*MAD. Median by exact SELECTION
    (element at sorted position (n+1) div 2), not interpolation — so the
    statistic is bit-identical across engines — and no division anywhere:
    the outlier test is a multiplication comparison. Mean/stddev gates
    break on the very rows they should catch; this is the robust twin
    (operators/aggregates.py::robust_outlier_stats)."""
    ev = _t(spark, sf_dir, "events")
    return agg.robust_outlier_stats(ev, ["event_type"], "value", k=3.0)


# ---------------------------------------------------------------------------
# Round 5 — curation additions: novelty attribution, triplet mining,
# cross-source calibration, seasonal anomaly gate, k-fold, RAG chunking,
# sentence-level language consistency.
# ---------------------------------------------------------------------------
@register("doc_ngram_novelty", dd.ngram_novelty_oracle_sql())
def doc_ngram_novelty_q(spark, sf_dir):
    """Per-doc 5-gram novelty: fraction of the doc's distinct 5-grams
    whose FIRST corpus occurrence (min doc_id) is this doc — the marginal
    -contribution signal for ordered ingest (a mirror re-posting old
    content scores ~0 without being an exact dup of anything). Grams
    shuffle as md5 digests only (operators/dedup.py::ngram_novelty)."""
    return dd.ngram_novelty(_t(spark, sf_dir, "documents"))


@register("hard_negative_mining", sim.hard_negative_oracle_sql(n_anchors=10))
def hard_negative_mining_q(spark, sf_dir):
    """Contrastive triplet mining: per anchor, the top-1 same-label and
    top-1 cross-label cosine neighbor and their margin — small/negative
    margins are the triplets a metric-learning loss needs. Broadcast
    anchor set × one corpus scan; one window ranks both branches
    (operators/similarity.py::hard_negative_pairs)."""
    em = _t(spark, sf_dir, "embeddings")
    anchors = em.filter(F.col("vec_id") < 10)
    return sim.hard_negative_pairs(em, anchors)


@register("quality_calibrated_scores", tx.quantile_calibrate_sql())
def quality_calibrated_scores_q(spark, sf_dir):
    """Cross-source quality calibration: each doc's score maps to the
    GLOBAL score at its within-source quantile position (exact rank
    selection, no interpolation), so sources with shifted score
    distributions stop being over/under-pruned by one raw threshold
    (operators/text.py::quality_quantile_calibrate)."""
    d = _t(spark, sf_dir, "documents")
    scored = tx.with_quality_score(d).select("doc_id", "source", "quality")
    return tx.quality_quantile_calibrate(scored)


@register("daily_count_anomalies", agg.daily_anomalies_sql())
def daily_count_anomalies_q(spark, sf_dir):
    """Daily event-volume anomalies vs a day-of-week baseline, flagged by
    the 2-sigma test in EXACT integer arithmetic:
    (n*x - s)^2 > 4*(n*ss - s^2) — no sigma, no sqrt, so the flag
    hash-gates byte-for-byte (operators/aggregates.py::daily_count_anomalies)."""
    return agg.daily_count_anomalies(_t(spark, sf_dir, "events"))


@register("stratified_kfold_assign", smp.stratified_kfold_sql())
def stratified_kfold_assign_q(spark, sf_dir):
    """Deterministic stratified 5-fold assignment: round-robin deal of
    each language's md5-ordered docs — every fold holds floor/ceil(n/k)
    of each stratum EXACTLY, not in expectation
    (operators/sampling.py::stratified_kfold)."""
    return smp.stratified_kfold(_t(spark, sf_dir, "documents"))


@register("sliding_window_chunks", tx.sliding_chunks_sql())
def sliding_window_chunks_q(spark, sf_dir):
    """Overlapping token windows (64-token window, 32-token stride) with
    md5 chunk identity — the RAG chunking shape where no answer span can
    straddle a boundary unseen. Row-local explode, zero shuffle
    (operators/text.py::sliding_token_chunks)."""
    return tx.sliding_token_chunks(_t(spark, sf_dir, "documents"))


@register("doc_lang_consistency", tx.lang_consistency_sql())
def doc_lang_consistency_q(spark, sf_dir):
    """Sentence-level language consistency: split docs into sentences,
    classify each with the stopword lang-id, majority-vote, and compare
    to the doc's label — catches mislabeled and code-mixed docs that a
    doc-level vote drowns (operators/text.py::lang_consistency)."""
    return tx.lang_consistency(_t(spark, sf_dir, "documents"))


@register("event_value_winsorized", agg.winsorized_stats_sql())
def event_value_winsorized_q(spark, sf_dir):
    """Per-type winsorized mean: clip at the exact p05/p95 SELECTION
    members (rank ceil(q*n), no interpolation — bit-identical cut points)
    and report the clipped mean next to the raw mean — the keep-the-rows
    complement of the robust outlier gate
    (operators/aggregates.py::winsorized_stats)."""
    return agg.winsorized_stats(_t(spark, sf_dir, "events"))


@register("event_type_twap", agg.time_weighted_avg_sql())
def event_type_twap_q(spark, sf_dir):
    """Per group-day TIME-weighted average value: sum(v*dt)/sum(dt) over
    [event, next event) intervals with exact integer microsecond weights
    — a burst of ticks no longer outweighs an hour of silence
    (operators/aggregates.py::time_weighted_avg)."""
    return agg.time_weighted_avg(_t(spark, sf_dir, "events"))


from .operators import layout as lay  # noqa: E402


@register(
    "event_zorder_keys",
    f"""
    SELECT event_id, {lay.morton_code_sql("xs", "ys")} AS zorder
    FROM (SELECT event_id,
                 (greatest(0, least(user_id, 2047)) * 65536) // 2048 AS xs,
                 (greatest(0, least(CAST(FLOOR(value) AS BIGINT), 1023)) * 65536) // 1024 AS ys
          FROM events)
    """,
)
def event_zorder_keys_q(spark, sf_dir):
    """Z-order (Morton) clustering keys over (user_id, floor(value)) —
    the Delta/Iceberg OPTIMIZE ZORDER technique as an oracle-gated
    operator: each dimension scales to 16 bits by exact integer
    arithmetic, then bit-interleaves, so a range-partitioned write
    clusters rows that are close in EITHER dimension into the same files
    and parquet min/max pruning works for both predicates
    (operators/layout.py::zorder_key, write_zordered)."""
    ev = _t(spark, sf_dir, "events")
    return lay.zorder_key(
        ev,
        F.col("user_id"),
        F.floor(F.col("value")).cast("long"),
        x_max=2047,
        y_max=1023,
        id_cols=["event_id"],
    )


@register("session_conversion_funnel", win.session_conversion_sql())
def session_conversion_funnel_q(spark, sf_dir):
    """ORDERED in-session conversion: within each 30-min-gap session, a
    pure integer state machine folds view -> click -> purchase over the
    time-ordered events — the session-level funnel the corpus-wide stage
    counts can't answer (operators/windows.py::session_conversion)."""
    return win.session_conversion(_t(spark, sf_dir, "events"))


@register("ann_lsh_recall", sim.ann_recall_oracle_sql(k=5, n_queries=5))
def ann_lsh_recall_q(spark, sf_dir):
    """Per-query recall@5 of the LSH ANN path against the brute-force
    ground truth — the eval every approximate index needs before
    production, computed in one plan by composing the two existing
    operators (operators/similarity.py::ann_recall_report)."""
    em = _t(spark, sf_dir, "embeddings")
    anchors = em.filter(F.col("vec_id") < 5)
    return sim.ann_recall_report(em, anchors, k=5)


@register(
    "customer_rfm_segments",
    """
    WITH base AS (
        SELECT o_custkey,
               MAX(o_orderdate) AS last_order,
               COUNT(*) AS n_orders,
               ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,12)))
                          AS DOUBLE), 2) AS total_spend
        FROM orders GROUP BY o_custkey
    ),
    tiers AS (
        SELECT o_custkey,
               CAST(datediff('day', last_order,
                             (SELECT MAX(o_orderdate) FROM orders))
                    AS BIGINT) AS recency_days,
               CAST(n_orders AS BIGINT) AS n_orders,
               total_spend,
               CAST(NTILE(4) OVER (ORDER BY last_order DESC, o_custkey)
                    AS INT) AS r_tier,
               CAST(NTILE(4) OVER (ORDER BY n_orders DESC, o_custkey)
                    AS INT) AS f_tier,
               CAST(NTILE(4) OVER (ORDER BY total_spend DESC, o_custkey)
                    AS INT) AS m_tier
        FROM base
    )
    SELECT o_custkey, recency_days, n_orders, total_spend,
           r_tier, f_tier, m_tier,
           CAST(r_tier AS VARCHAR) || CAST(f_tier AS VARCHAR)
               || CAST(m_tier AS VARCHAR) AS segment
    FROM tiers
    """,
)
def customer_rfm_segments_q(spark, sf_dir):
    """RFM customer segmentation (recency / frequency / monetary
    quartiles, tier 1 = best): the standard marketing-analytics cut, as
    one aggregate + three EXACT NTILE assignments with deterministic
    (metric, custkey) tie order — each through the two-level blocked
    rank (windows.blocked_ntile), so the customer base never single-task
    sorts and the NTILE oracle stays byte-identical. The monetary sum is
    an exact decimal fold (the decimal_avg discipline), so quartile
    boundaries hash-gate."""
    o = _t(spark, sf_dir, "orders")
    base = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("n_orders"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(38,12)")).cast("double"),
            2,
        ).alias("total_spend"),
    )
    # NOTE (r14, measured): deriving this scalar from base's own
    # aggregate (max of last_order) LOOKS like it should share base's
    # exchange, but column pruning gives the two aggregate subtrees
    # different partial schemas, reuse never fires, and the broadcast
    # side then pays a full hash-exchange it avoids today (A/B min-of-3:
    # 7.1 s as-is vs 13.9 s rewritten). The second orders scan with a
    # no-shuffle max IS the cheaper shape; left alone deliberately.
    max_date = F.broadcast(o.agg(F.max("o_orderdate").alias("_maxd")))
    tiers = base.crossJoin(max_date).withColumn(
        "recency_days",
        F.datediff(F.col("_maxd"), F.col("last_order")).cast("long"),
    )
    for metric, col in (
        ("last_order", "r_tier"),
        ("n_orders", "f_tier"),
        ("total_spend", "m_tier"),
    ):
        tiers = win.blocked_ntile(
            tiers, [F.col(metric).desc(), F.col("o_custkey")], 4, col
        )
    return tiers.select(
        "o_custkey",
        "recency_days",
        F.col("n_orders").cast("long").alias("n_orders"),
        "total_spend",
        "r_tier",
        "f_tier",
        "m_tier",
        F.concat(
            F.col("r_tier").cast("string"),
            F.col("f_tier").cast("string"),
            F.col("m_tier").cast("string"),
        ).alias("segment"),
    )


@register(
    "order_backlog_timeline",
    """
    WITH spans AS (
        SELECT o.o_orderkey, o.o_orderdate AS start_d,
               MAX(l.l_shipdate) AS end_d
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_orderkey, o.o_orderdate
    ),
    deltas AS (
        SELECT start_d AS d, 1 AS delta FROM spans
        UNION ALL
        SELECT end_d AS d, -1 AS delta FROM spans
    ),
    daily AS (SELECT d, SUM(delta) AS net FROM deltas GROUP BY d)
    SELECT strftime(d, '%Y-%m-%d') AS day,
           CAST(net AS BIGINT) AS net_change,
           CAST(SUM(net) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS open_orders
    FROM daily
    """,
)
def order_backlog_timeline_q(spark, sf_dir):
    """Concurrent-interval counting by SWEEP LINE: how many orders are
    open (placed, not yet fully shipped) on each day. Each order's
    [orderdate, last ship) span decomposes into a +1/-1 delta pair;
    one date-keyed aggregate + a running sum over the (calendar-bounded)
    distinct-date table — never a per-day x per-order join, which is the
    O(days x orders) trap this shape replaces at scale."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    spans = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("_end"))
    )
    deltas = spans.select(
        F.col("o_orderdate").alias("_d"), F.lit(1).alias("_delta")
    ).unionByName(
        spans.select(F.col("_end").alias("_d"), F.lit(-1).alias("_delta"))
    )
    daily = deltas.groupBy("_d").agg(F.sum("_delta").alias("net_change"))
    w = Window.orderBy("_d").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        F.date_format("_d", "yyyy-MM-dd").alias("day"),
        F.col("net_change").cast("long").alias("net_change"),
        F.sum("net_change").over(w).cast("long").alias("open_orders"),
    )


@register("lsh_band_sweep", dd.lsh_band_sweep_oracle_sql())
def lsh_band_sweep_q(spark, sf_dir):
    """MinHash LSH band-configuration sweep: candidates / precision /
    recall of the 8x2, 4x4, and 2x8 band layouts of the 16-hash
    signature against the exact-Jaccard truth set, in ONE plan — the
    measurement that turns the bands-vs-rows tradeoff from folklore into
    data (operators/dedup.py::lsh_band_sweep)."""
    return dd.lsh_band_sweep(_t(spark, sf_dir, "documents"))


@register("parts_co_ordered", gr.co_occurrence_sql())
def parts_co_ordered_q(spark, sf_dir):
    """Market-basket mining over orders: top-50 part pairs by
    within-order co-occurrence with exact-integer-ratio lift — pairs
    generate per basket over the DISTINCT item list (bounded by basket
    width, never |items|^2) (operators/graph.py::co_occurrence_lift)."""
    return gr.co_occurrence_lift(_t(spark, sf_dir, "lineitem"))


@register("event_debounce_stats", win.debounce_sql())
def event_debounce_stats_q(spark, sf_dir):
    """Telemetry debounce audit: per (user, type), how many events
    survive keeping only the FIRST of each sub-10-second burst — the
    at-least-once / double-fire collapse every event feed needs
    (operators/windows.py::debounce_stats)."""
    return win.debounce_stats(_t(spark, sf_dir, "events"))


@register("event_value_psi_drift", agg.psi_value_drift_sql())
def event_value_psi_drift_q(spark, sf_dir):
    """Population Stability Index of the value distribution, second half
    of the date span vs the first: reference-decile bins (exact selection
    members), Laplace-smoothed proportions, per-bin PSI terms and the
    exact-decimal total — the numeric-drift monitor next to the token-TV
    drift (operators/aggregates.py::psi_value_drift)."""
    return agg.psi_value_drift(_t(spark, sf_dir, "events"))


@register("order_price_benford", agg.benford_audit_sql())
def order_price_benford_q(spark, sf_dir):
    """Benford first-digit audit of order totals: exact-integer leading
    digits (cents as BIGINT), observed vs log10(1+1/d) expectation with
    per-digit χ² contributions — the fabricated-data screen every
    financial ingest runs (operators/aggregates.py::benford_digit_audit)."""
    return agg.benford_digit_audit(_t(spark, sf_dir, "orders"))


@register("daily_seasonal_naive_error", agg.seasonal_naive_sql())
def daily_seasonal_naive_error_q(spark, sf_dir):
    """Seasonal-naive (lag-7 calendar join) backtest of daily event
    counts: per-weekday MAE/MAPE — the forecasting baseline every
    capacity model must beat
    (operators/aggregates.py::seasonal_naive_error)."""
    return agg.seasonal_naive_error(_t(spark, sf_dir, "events"))


@register("doc_priority_sample", smp.priority_sample_sql())
def doc_priority_sample_q(spark, sf_dir):
    """Bottom-k priority sample (Duffield/Lund/Thorup) of documents
    weighted by length: content-addressed uniforms, top-k by w/u via
    distributed TakeOrdered, unbiased max(w, τ) estimator weights
    (operators/sampling.py::priority_weighted_sample)."""
    return smp.priority_weighted_sample(_t(spark, sf_dir, "documents"))


@register("source_temperature_mixture", smp.temperature_mixture_sql())
def source_temperature_mixture_q(spark, sf_dir):
    """Temperature-scaled (α = 0.5) source mixture: sampling weights
    ∝ sqrt(n) with an exact largest-remainder apportionment of the doc
    budget — the multilingual-recipe tail-upweighting as a deterministic
    plan (operators/sampling.py::temperature_source_mixture)."""
    return smp.temperature_source_mixture(_t(spark, sf_dir, "documents"))


@register("events_time_embargo_split", smp.time_embargo_sql())
def events_time_embargo_split_q(spark, sf_dir):
    """Chronological train/test split with a 2-day embargo gap (the
    purged split from financial ML): half-open boundaries, gap rows
    dropped, and the entity-overlap audit a calendar split cannot fix
    (operators/sampling.py::time_embargo_split)."""
    return smp.time_embargo_split(_t(spark, sf_dir, "events"))


@register("embedding_pca_component", ml.pca_oracle_sql())
def embedding_pca_component_q(spark, sf_dir):
    """Leading eigenvector of the embeddings' second-moment matrix by
    power iteration — iterative linear algebra as pure DataFrame algebra:
    every cross-row sum is an exact decimal fold, so three rounds of
    project/re-mix/normalize hash-match the oracle's unrolled CTEs with
    no driver collect (ml.py::pca_top_component)."""
    return ml.pca_top_component(_t(spark, sf_dir, "embeddings"))


@register(
    "event_session_concurrency",
    """
    WITH o AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    s AS (
        SELECT user_id, ts,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM o),
    sessions AS (
        SELECT epoch_us(MIN(ts)) AS start_us, epoch_us(MAX(ts)) AS end_us
        FROM s GROUP BY user_id, sid)
    SELECT e.event_id, CAST(COUNT(*) AS BIGINT) AS n_open_sessions
    FROM events e JOIN sessions
      ON epoch_us(e.ts) BETWEEN start_us AND end_us
    GROUP BY e.event_id
    """,
)
def event_session_concurrency_q(spark, sf_dir):
    """Platform concurrency per event: how many 30-min-gap sessions
    (any user) were open at each event's timestamp — a RANGE JOIN
    executed as the bucketed interval-point join
    (operators/joins.py::interval_point_join): intervals explode to the
    hour buckets they cover, points key to their single bucket, and the
    containment predicate filters the bucket equi-join candidates — no
    nested-loop cross product at any scale. The session table is
    checkpointed once HERE (the caller owns that trade): the join's
    coarse-lane probe and the join build both consume it, and the
    sessionization aggregate is the expensive part of this plan
    (measured at sf1.0*: 0.33 -> 0.26/decade, shuffle 79.5 -> 40.6 MB
    with the cut)."""
    ev = _t(spark, sf_dir, "events")
    sessions = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(
            F.unix_micros(F.min("ts")).alias("start_us"),
            F.unix_micros(F.max("ts")).alias("end_us"),
        )
        .select("start_us", "end_us")
        .transform(lineage_cut)
    )
    points = ev.select("event_id", F.unix_micros("ts").alias("t_us"))
    return (
        jn.interval_point_join(points, sessions, "t_us", "start_us", "end_us")
        .groupBy("event_id")
        .agg(F.count(F.lit(1)).alias("n_open_sessions"))
    )


@register("daily_volume_changepoint", agg.cusum_changepoint_sql())
def daily_volume_changepoint_q(spark, sf_dir):
    """WHEN did the event level shift: offline CUSUM changepoint over
    the daily count series — the day maximizing |S_t − t·μ|, selected by
    the ALL-INTEGER argmax |D·S_t − t·S_D| so the chosen day is
    engine-exact; magnitudes divide once at the end. Every window runs
    on the calendar-sized daily table
    (operators/aggregates.py::cusum_changepoint)."""
    return agg.cusum_changepoint(_t(spark, sf_dir, "events"))


@register(
    "part_entity_resolution",
    """
    WITH RECURSIVE pairs AS (
        SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
        FROM part a JOIN part b
          ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        WHERE levenshtein(a.p_name, b.p_name) <= 2
          AND a.p_name <> b.p_name
    ),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ),
    reach AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    assign AS (
        SELECT a AS member, LEAST(a, MIN(b)) AS canonical_id
        FROM reach GROUP BY a
    )
    SELECT s.canonical_id,
           p.p_name AS canonical_name,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           string_agg(CAST(s.member AS VARCHAR), ',' ORDER BY s.member)
               AS member_ids
    FROM assign s JOIN part p ON p.p_partkey = s.canonical_id
    GROUP BY s.canonical_id, p.p_name
    """,
)
def part_entity_resolution_q(spark, sf_dir):
    """End-to-end ENTITY RESOLUTION over a dimension table — the MDM
    composition of three existing operators in one plan: PassJoin fuzzy
    blocking (segment equi-join candidates, thresholded-levenshtein
    verify — operators/joins.py::edit_distance_pairs), pointer-doubling
    connected components over the match graph
    (operators/dedup.py::dedup_clusters), and canonical-survivor rollup
    (min-id canonical, member roster as a deterministic sorted string).
    Exact-name duplicates route through the exact-dedup operators; this
    resolves the NEAR-identical names those can't see. Oracle: the same
    pair predicate + recursive-CTE transitive closure."""
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand")
    pairs = jn.edit_distance_pairs(
        p, id_col="p_partkey", str_col="p_name", block_col="p_brand", d=2
    )
    assign = dd.dedup_clusters(pairs)
    names = p.select(
        F.col("p_partkey").alias("canonical_id"),
        F.col("p_name").alias("canonical_name"),
    )
    return (
        assign.groupBy("canonical_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("member_ids"),
        )
        .join(F.broadcast(names), "canonical_id")
        .select(
            "canonical_id", "canonical_name", "n_members", "member_ids"
        )
    )


@register("customer_revenue_gini", agg.gini_oracle_sql())
def customer_revenue_gini_q(spark, sf_dir):
    """Revenue concentration over the FULL customer base: decile Lorenz
    curve + the sample Gini coefficient (exact decimal rank·x folds —
    the scalar top-N share can't give)
    (operators/aggregates.py::gini_concentration)."""
    return agg.gini_concentration(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    )


@register("copurchase_triangles", gr.cooccurrence_triangles_sql())
def copurchase_triangles_q(spark, sf_dir):
    """Triangle participation in the thresholded co-order part graph:
    oriented edges (each triangle built exactly once), two edge-list
    self-joins, top-20 parts — the community-cohesion signal pair counts
    alone can't see (operators/graph.py::cooccurrence_triangles)."""
    return gr.cooccurrence_triangles(
        _t(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey"
    )


# Queries with a green row in CORRECTNESS_r01.json (driver gate, round 1).
# The driver verifies queries in registration order and stopped at 50 in
# round 1, so all_queries() front-loads the not-yet-gated entries each round
# (two-round rotation): already-green queries yield their gate slots until
# every registered query has a driver-verified row. daily_price_rollup is
# pinned first — it is the flagship entry() query and its round-1 row was a
# hash FAIL (float discipline, fixed in operators/aggregates.decimal_avg).
_R1_VERIFIED = {
    "events_user_daily_counts", "pricing_summary", "hourly_price_stats",
    "top_events_per_user", "next_event_value", "dedup_keep_last",
    "orders_by_region", "customer_order_totals", "customers_without_orders",
    "events_window_stats", "keyword_docs", "tracked_type_counts",
    "best_hour_per_type", "union_sources_summary", "clickers_who_purchased",
    "clickers_never_purchased", "daily_active_users", "event_type_rollup",
    "doc_scalar_suite", "event_props_extract", "doc_token_stats",
    "doc_quality_scores", "doc_lang_id", "doc_sentiment_daily",
    "doc_fingerprints", "dedup_exact_groups", "ngram_jaccard_pairs",
    "minhash_lsh_pairs", "simhash_fingerprints", "ann_cosine_topk",
    "ann_lsh_topk", "ann_ivf_topk", "embedding_label_centroids",
    "asof_last_purchase", "go_nogo_gate", "validation_split_stats",
    "datetime_scalar_suite", "doc_lang_source_cube", "sql_best_hour_verbatim",
    "doc_payload_features", "embedding_near_dup_pairs", "ann_cosine_topk_arrow",
    "exact_dedup_survivors", "near_dup_survivors", "dedup_cluster_assignment",
    "top_words", "user_sessions", "llm_extract_structured",
    "approx_daily_users",  # rows-only by design (no oracle)
}


def _gate_verified(root: str | None = None) -> dict[str, int]:
    """Map of query name → round of its MOST RECENT green gate row in
    CORRECTNESS_r*.json (green = hash match, or rows-only-by-design), read
    dynamically from the repo root — so the rotation is self-maintaining:
    each round's new green rows automatically yield their front slots to
    still-ungated queries next round, and a query that regresses red in a
    later round loses its verified status and rotates back into the gate
    window (latest round wins per query — a monotone union would mask
    regressions forever). The round number lets all_queries() order the
    verified tail by VERIFICATION AGE so the stalest greens re-enter the
    driver's 50-slot window first. Falls back to the hand-recorded round-1
    set (as round 1) if no artifact is readable."""
    import glob as _glob
    import json as _json
    import os as _os
    import re as _re

    if root is None:
        root = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    latest: dict[str, tuple[int, bool]] = {}
    for path in sorted(_glob.glob(_os.path.join(root, "CORRECTNESS_r*.json"))):
        m = _re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as f:
                rows = _json.load(f)
        except Exception:
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            green = bool(row.get("hash_match") or row.get("err") == "no_oracle")
            latest[name] = (rnd, green)
    verified = {n: rnd for n, (rnd, ok) in latest.items() if ok}
    return verified or {n: 1 for n in _R1_VERIFIED}


def all_queries() -> dict[str, Query]:
    verified = _gate_verified()
    order = list(QUERIES)
    front: dict[str, Query] = {}
    # the flagship entry() query stays pinned first only until it has a
    # green gate row; afterwards its slot goes to a still-ungated query
    if "daily_price_rollup" not in verified:
        front["daily_price_rollup"] = QUERIES["daily_price_rollup"]
    front.update(
        (n, q) for n, q in QUERIES.items() if n not in verified and n not in front
    )
    # Verified tail ordered by verification age (oldest gate round first,
    # registry order as tiebreak): with every query green, the driver's
    # 50-slot window re-checks the STALEST greens each round instead of an
    # arbitrary registry prefix, so no green goes unverified indefinitely.
    for n in sorted(
        (n for n in verified if n in QUERIES),
        key=lambda n: (verified[n], order.index(n)),
    ):
        front[n] = QUERIES[n]
    assert len(front) == len(QUERIES)
    return front
