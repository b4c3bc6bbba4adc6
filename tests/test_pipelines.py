"""End-to-end pipeline tests: binance cascade + upsert idempotency,
stocksense pageviews, goldwar training table."""

from __future__ import annotations

import gzip

import pytest

from pyspark.sql import functions as F

from data_pipelines_cu_spark.pipelines import binance, goldwar, stocksense
from data_pipelines_cu_spark.sources.generators import generate_minute_ticks


def test_binance_hourly_daily_semantics(spark):
    raw = generate_minute_ticks(spark, "2024-02-01")
    hourly = binance.hourly_stats(raw)
    assert hourly.count() == 24
    h0 = hourly.filter(F.col("hour") == "00").first()
    assert h0.data_points == 60
    assert h0.min_price <= h0.avg_price <= h0.max_price
    daily = binance.daily_stats(hourly)
    d = daily.first()
    assert d.hours_with_data == 24 and d.total_data_points == 1440
    # mean-of-hourly-means fidelity: equals avg of the hourly avg column
    expect = hourly.agg(F.avg("avg_price")).first()[0]
    assert abs(d.avg_price - expect) < 1e-9
    # opening/closing from first/last hour
    h23 = hourly.filter(F.col("hour") == "23").first()
    assert d.opening_price == h0.first_price
    assert d.closing_price == h23.last_price
    assert abs(d.price_change - (d.closing_price - d.opening_price)) < 1e-9


def test_binance_backfill_idempotent(spark, tmp_path):
    base = str(tmp_path / "binance")
    raw = generate_minute_ticks(spark, "2024-02-01")
    binance.run_backfill(spark, raw, base)
    first = spark.read.parquet(f"{base}/daily").collect()
    # re-run: dynamic partition overwrite → same state, no duplication
    binance.run_backfill(spark, raw, base)
    second = spark.read.parquet(f"{base}/daily").collect()
    assert sorted(map(tuple, first)) == sorted(map(tuple, second))
    assert len(second) == 1


def test_backfill_new_day_preserves_old_partitions(spark, tmp_path):
    base = str(tmp_path / "binance")
    binance.run_backfill(spark, generate_minute_ticks(spark, "2024-02-01"), base)
    binance.run_backfill(spark, generate_minute_ticks(spark, "2024-02-02"), base)
    # partition column values are re-inferred as DateType on read
    days = {str(r.date) for r in spark.read.parquet(f"{base}/daily").collect()}
    assert days == {"2024-02-01", "2024-02-02"}


def test_dedup_ticks_keep_last(spark):
    raw = generate_minute_ticks(spark, "2024-02-01").limit(10)
    dup = raw.withColumn("fetch_time", F.col("fetch_time") + F.expr("INTERVAL 1 SECOND"))
    merged = raw.unionByName(dup)
    out = binance.dedup_ticks(merged)
    assert out.count() == 10
    # kept rows are the later fetch (keep-last semantics)
    assert out.agg(F.min(F.second("fetch_time"))).first()[0] == 1


def test_stocksense_pageview_counts(spark, tmp_path):
    p = tmp_path / "pv.gz"
    with gzip.open(p, "wt") as f:
        f.write("en Google 42 1\nen Google 8 1\nen Apple 7 1\nde Google 999 1\nen Other 5 1\n")
    out = stocksense.pageview_counts(spark, str(p))
    got = {r.pagename: r.pageviewcount for r in out.collect()}
    assert got["Google"] == 50  # en only, summed
    assert got["Apple"] == 7
    assert got["Microsoft"] == 0  # zero-fill for untracked-in-dump pages
    assert len(got) == 5


def test_stocksense_best_hour(spark):
    rows = [
        ("Google", "10", 100), ("Google", "11", 300), ("Apple", "10", 50),
    ]
    hourly = spark.createDataFrame(rows, ["pagename", "hr", "pageviewcount"])
    best = stocksense.best_hour_per_page(hourly)
    got = {r.pagename: r.hr for r in best.collect()}
    assert got == {"Google": "11", "Apple": "10"}


def test_jdbc_sink_roundtrip_derby(spark, tmp_path):
    """K5 executed for real: write pageview counts through df.write.jdbc to
    embedded Derby (bundled with Spark) and read the rows back — the same
    code path as the reference's Postgres insert (listing_4_20.py:73-79),
    with only the URL/driver swapped."""
    url = f"jdbc:derby:{tmp_path}/pvdb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    df = spark.createDataFrame(
        [("Google", 50), ("Apple", 7), ("Microsoft", 0)],
        ["pagename", "pageviewcount"],
    )
    stocksense.write_jdbc(df, url, "pageview_counts", mode="overwrite", properties=props)
    # idempotent re-run: overwrite replaces, not duplicates
    stocksense.write_jdbc(df, url, "pageview_counts", mode="overwrite", properties=props)
    back = stocksense.read_jdbc(spark, url, "pageview_counts", properties=props)
    got = {(r.pagename, r.pageviewcount) for r in back.collect()}
    assert got == {("Google", 50), ("Apple", 7), ("Microsoft", 0)}
    # append adds rows through the same path
    extra = spark.createDataFrame([("Amazon", 9)], ["pagename", "pageviewcount"])
    stocksense.write_jdbc(extra, url, "pageview_counts", mode="append", properties=props)
    assert stocksense.read_jdbc(spark, url, "pageview_counts", properties=props).count() == 4


def test_goldwar_training_table(spark):
    gold = spark.createDataFrame(
        [("2024-01-01", 100.0), ("2024-01-02", 110.0), ("2024-01-03", 105.0)],
        ["date", "close"],
    )
    news = spark.createDataFrame(
        [
            ("2024-01-01", "War escalates", "bad loss crash"),
            ("2024-01-01", "Conflict zone", "fail down"),
            ("2024-01-02", "Cooking tips", "great success"),  # filtered out
        ],
        ["date", "title", "summary"],
    )
    out = goldwar.training_table(gold, news).orderBy("date").collect()
    # last gold row dropped (no next day)
    assert [r.date for r in out] == ["2024-01-01", "2024-01-02"]
    assert out[0].target == 1 and out[1].target == 0
    assert out[0].news_count == 2
    assert out[0].sentiment_mean < 0  # war+negative lexicon
    assert out[1].news_count == 0 and out[1].sentiment_mean == 0.0  # zero-fill


def test_ml_train_score_deterministic(spark):
    """U5: RandomForest over the goldwar-shaped training table — fixed seed
    must give identical predictions across two fits, train accuracy must
    beat chance, and scoring must be a plain DataFrame stage (the
    reference's gold_war_etl_dag.py:158-181 + lecture6/test_model.py:26-52
    check, re-expressed on Spark ML)."""
    from data_pipelines_cu_spark import ml

    # learnable synthetic table in the goldwar feature space: target is
    # (mostly) whether sentiment is positive, with some noise rows
    rows = []
    for i in range(200):
        sent = (i % 7 - 3) / 3.0
        close = 100.0 + (i % 13)
        noisy = i % 11 == 0
        target = int((sent > 0) ^ noisy)
        rows.append((f"2024-{1 + i // 28:02d}-{1 + i % 28:02d}", close, sent, i % 5, target))
    df = spark.createDataFrame(
        rows, ["date", "close", "sentiment_mean", "news_count", "target"]
    )
    feats = ["close", "sentiment_mean", "news_count"]
    m1 = ml.train_classifier(df, feats, seed=42)
    m2 = ml.train_classifier(df, feats, seed=42)
    s1 = {r.date: r.prediction for r in ml.score(m1, df, ["date"]).collect()}
    s2 = {r.date: r.prediction for r in ml.score(m2, df, ["date"]).collect()}
    assert s1 == s2  # seed-deterministic
    acc = ml.accuracy(m1, df)
    assert acc > 0.7, f"train accuracy collapsed: {acc:.2f}"


def test_goldwar_end_to_end_train(spark):
    """The full U5 path: training_table → train → score on the same frame."""
    from data_pipelines_cu_spark import ml

    gold = spark.createDataFrame(
        [(f"2024-01-{d:02d}", 100.0 + ((d * 7) % 11)) for d in range(1, 29)],
        ["date", "close"],
    )
    news = spark.createDataFrame(
        [
            (f"2024-01-{d:02d}", "War conflict attack", "loss crash fail")
            for d in range(1, 29, 2)
        ],
        ["date", "title", "summary"],
    )
    table = goldwar.training_table(gold, news)
    model = ml.train_classifier(table, goldwar.feature_columns(), seed=7)
    scored = ml.score(model, table)
    assert scored.count() == table.count()
    assert set(scored.select("prediction").distinct().toPandas()["prediction"]) <= {0.0, 1.0}


def test_compact_partitions_reduces_files(spark, tmp_path):
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators.upsert import compact_partitions

    path = str(tmp_path / "t")
    df = spark.range(2000).select(
        (F.col("id") % 4).cast("string").alias("date"), F.col("id").alias("v")
    )
    # simulate a per-trigger accreting sink: 10 appends -> many small files
    for _ in range(10):
        df.write.mode("append").partitionBy("date").parquet(path)
    import os

    def count_files():
        return sum(
            1
            for root, _d, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        )

    before = count_files()
    compact_partitions(spark, path, ["date"])
    after = count_files()
    assert before > 40 and after <= 8
    got = spark.read.parquet(path)
    assert got.count() == 20000
    assert got.groupBy("date").count().count() == 4


def test_upsert_partitions_dynamic_on_static_session(spark, tmp_path):
    """upsert_partitions must overwrite only matching partitions even when
    the session-level overwrite mode is static (the driver hands this
    engine vanilla sessions) — the writer pins dynamic mode itself."""
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators.upsert import upsert_partitions

    path = str(tmp_path / "t")
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        d1 = spark.createDataFrame([("2024-01-01", 1)], ["date", "v"])
        d2 = spark.createDataFrame([("2024-01-02", 2)], ["date", "v"])
        upsert_partitions(d1, path, ["date"])
        upsert_partitions(d2, path, ["date"])
        # partitioned read re-infers date as DateType → normalize via str()
        got = {(str(r.date), r.v) for r in spark.read.parquet(path).collect()}
        # static mode would have wiped the 01-01 partition on the second write
        assert got == {("2024-01-01", 1), ("2024-01-02", 2)}
        upsert_partitions(
            spark.createDataFrame([("2024-01-02", 9)], ["date", "v"]),
            path,
            ["date"],
        )
        got = {(str(r.date), r.v) for r in spark.read.parquet(path).collect()}
        assert got == {("2024-01-01", 1), ("2024-01-02", 9)}
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def test_compact_partitions_splits_fat_partitions(spark, tmp_path):
    """With a small file-size target, one fat partition must split into
    several files — requires the within-partition salt in the repartition
    key (partition-cols-only hashing sends each partition to ONE task)."""
    import os

    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators.upsert import compact_partitions

    path = str(tmp_path / "t")
    spark.range(50_000).select(
        F.lit("2024-01-01").alias("date"), F.col("id").alias("v")
    ).coalesce(1).write.partitionBy("date").parquet(path)
    compact_partitions(spark, path, ["date"], target_file_bytes=50_000)
    files = [
        f
        for root, _d, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]
    assert len(files) >= 2
    got = spark.read.parquet(path)
    assert got.count() == 50_000


def test_compact_partitions_sizes_flat_directory_per_partition(spark, tmp_path):
    """A flat (not yet hive-style) directory has no `date=...` leaf dirs to
    count, so the partition count must come from the data: with 8 keys
    and a target of 1.5x one key's bytes, every partition fits in ONE
    file. Sizing the whole table as one partition instead writes several
    files into every partition."""
    import os

    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators.upsert import compact_partitions

    path = str(tmp_path / "t")
    spark.range(80_000).select(
        (F.col("id") % 8).cast("string").alias("date"), F.col("id").alias("v")
    ).coalesce(1).write.parquet(path)
    total = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _d, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    written = compact_partitions(
        spark, path, ["date"], target_file_bytes=total * 3 // 16
    )
    per_partition = {
        d: sum(1 for f in os.listdir(os.path.join(path, d)) if f.endswith(".parquet"))
        for d in os.listdir(path)
        if d.startswith("date=")
    }
    assert len(per_partition) == 8
    assert set(per_partition.values()) == {1}, per_partition
    # the pre-compaction root file is gone: the table is on disk once
    root = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert root == [], root
    assert written == 8
    assert spark.read.parquet(path).count() == 80_000


def test_write_range_clustered_files_have_disjoint_ranges(spark, tmp_path):
    """Range clustering must yield per-file value ranges that do not
    overlap — the property parquet min/max skipping depends on."""
    from data_pipelines_cu_spark.catalog import load_table
    from data_pipelines_cu_spark.operators.upsert import write_range_clustered

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "ts", "user_id", "value"
    )
    out = str(tmp_path / "clustered")
    write_range_clustered(ev, out, ["ts"], n_files=4)
    import glob

    ranges = []
    for f in sorted(glob.glob(f"{out}/part-*.parquet")):
        pdf = spark.read.parquet(f).agg(
            F.min("ts").alias("lo"), F.max("ts").alias("hi")
        ).collect()[0]
        if pdf.lo is not None:
            ranges.append((pdf.lo, pdf.hi))
    assert len(ranges) >= 2
    ranges.sort()
    for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
        assert hi_prev <= lo_next  # disjoint: skipping can work
    # round-trip: nothing lost
    assert spark.read.parquet(out).count() == ev.count()


@pytest.mark.tier2
def test_curation_pipeline_end_to_end(spark):
    """The full curation DAG at sf0.001: stages run in order, every stage
    only shrinks the corpus, the final packed set carries sequence
    placement, and the flow is deterministic across runs."""
    from data_pipelines_cu_spark.pipelines.curation import run_curation

    ctx = run_curation(spark, "/root/testdata/sf0.001")
    rep = ctx["report"]
    order = ["ingest", "quality_gate", "exact_dedup", "near_dedup",
             "decontaminate", "rebalance", "pack"]
    counts = [rep[s] for s in order]
    assert counts[0] > 0
    # monotone non-increasing through the filter stages (pack keeps rows)
    for a, b in zip(counts, counts[1:]):
        assert b <= a
    assert rep["pack"] == rep["rebalance"]
    packed = ctx["pack"]
    assert {"bin_id", "bin_offset"}.issubset(set(packed.columns))
    # deterministic: a second full run reproduces the report exactly
    assert run_curation(spark, "/root/testdata/sf0.001")["report"] == rep


def test_stump_no_split_majority_fallback(spark, duck):
    """When no candidate threshold separates the data (all feature values
    equal), the stump must fall back to a no-split majority-class model
    (split_t=0) instead of silently returning zero predictions — and the
    DuckDB twin must agree row-for-row."""
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark import ml
    from tests.util import assert_matches_oracle

    df = spark.createDataFrame(
        [(i, 0, 1 if i < 7 else 0) for i in range(10)],
        "event_id long, x int, y int",
    )
    out = ml.stump_train_score(df, F.col("x"), F.col("y"))
    rows = out.collect()
    assert len(rows) == 10  # no silent empty result
    assert all(r.split_t == 0 for r in rows)
    assert all(r.pred == 1 for r in rows)  # majority class is 1 (7 of 10)
    duck.sql("CREATE OR REPLACE TABLE _stump_const AS "
             "SELECT * FROM (VALUES " +
             ", ".join(f"({i}, 0, {1 if i < 7 else 0})" for i in range(10)) +
             ") t(event_id, x, y)")
    assert_matches_oracle(
        out,
        duck,
        ml.stump_train_score_sql(
            table="_stump_const", feature_expr="x", label_expr="y"
        ),
    )


def test_perceptron_learns_separable_data(spark, duck):
    """On linearly separable integer data the 3-epoch batch perceptron
    must reach 100% training accuracy, and the DuckDB twin must reproduce
    the exact weights (training parity, not just scoring parity)."""
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark import ml
    from tests.util import assert_matches_oracle

    # x in {0, 2}, balanced: batch updates converge to w=(-10, 20) by
    # epoch 3 (epoch 1 learns the slope, epoch 2 the bias, epoch 3 is the
    # no-change fixpoint) — hand-checkable and 100% separable
    data = [(i, 0 if i < 10 else 2, 0 if i < 10 else 1) for i in range(20)]
    df = spark.createDataFrame(data, "event_id long, x int, y int")
    out = ml.perceptron_train_score(
        df, features=[F.col("x")], label=F.col("y"), n_iters=3
    )
    rows = out.collect()
    assert all(r.correct == 1 for r in rows)
    assert rows[0].w0 == -10 and rows[0].w1 == 20
    duck.sql("CREATE OR REPLACE TABLE _sep AS SELECT * FROM (VALUES " +
             ", ".join(f"({i}, {x}, {y})" for i, x, y in data) +
             ") t(event_id, x, y)")
    assert_matches_oracle(
        out, duck,
        ml.perceptron_train_score_sql(
            table="_sep", feature_exprs=("x::BIGINT",), label_expr="y",
            n_iters=3,
        ),
    )


def test_backfill_job_budget(spark, tmp_path):
    """The keep-last ticks are cut once and all three layers are written
    from the cut: at most 8 Spark jobs for one day (9 when each write
    re-ran the dedup window over the source)."""
    from tests.util import jobs_of

    raw = generate_minute_ticks(spark, "2024-02-01")
    base = str(tmp_path / "binance")
    assert jobs_of(spark, lambda: binance.run_backfill(spark, raw, base)) <= 8
