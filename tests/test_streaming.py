"""Structured Streaming tests: availableNow file-stream ingest, 1h windowed
agg parity with the batch operator, and the hourly→daily cascade."""

from __future__ import annotations

import datetime
import json
import os

from pyspark.sql import functions as F

from data_pipelines_cu_spark.operators.aggregates import multi_stat_time_bucket
from data_pipelines_cu_spark.sources.generators import generate_minute_ticks
from data_pipelines_cu_spark.streaming import jobs


def _write_tick_files(spark, path, date="2024-02-01"):
    ticks = generate_minute_ticks(spark, date).select(
        F.date_format("fetch_time", "yyyy-MM-dd HH:mm:ss").alias("fetch_time"),
        "price_float",
    )
    rows = [
        {"fetch_time": r.fetch_time, "price_float": r.price_float}
        for r in ticks.collect()
    ]
    # sentinel tick past the watermark horizon: append-mode windows only
    # emit once the watermark (max event time - 2h) passes their end, so a
    # bounded availableNow run needs one event beyond day-end + delay for
    # the day's final windows to close (a live stream does this naturally)
    rows.append({"fetch_time": "2024-02-02 02:30:00", "price_float": 1.0})
    # two files to exercise multi-file discovery
    for i, chunk in enumerate([rows[:700], rows[700:]]):
        with open(f"{path}/part-{i}.json", "w") as f:
            for r in chunk:
                f.write(json.dumps(r) + "\n")
    return rows


def test_streaming_hourly_matches_batch(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    _write_tick_files(spark, str(src))
    sink = str(tmp_path / "hourly")
    q = jobs.run_hourly_to_sink(
        jobs.read_tick_stream(spark, str(src)),
        sink,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    got = spark.read.parquet(sink)
    batch = multi_stat_time_bucket(
        spark.read.json(str(src)).withColumn(
            "fetch_time", F.to_timestamp("fetch_time")
        ),
        "fetch_time",
        "price_float",
    ).filter(F.col("date") == "2024-02-01")  # sentinel's window never emits
    # partitioned sink re-infers date as DateType → normalize via str()
    g = {(str(r.date), r.hour): (r.avg_price, r.first_price, r.last_price, r.data_points)
         for r in got.collect()}
    b = {(str(r.date), r.hour): (r.avg_price, r.first_price, r.last_price, r.data_points)
         for r in batch.collect()}
    assert g == b
    assert len(g) == 24


def test_streaming_cascade_daily(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    _write_tick_files(spark, str(src))
    hourly_path = str(tmp_path / "hourly")
    daily_path = str(tmp_path / "daily")
    q = jobs.run_cascade(
        jobs.read_tick_stream(spark, str(src)),
        hourly_path,
        daily_path,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    daily = spark.read.parquet(daily_path).collect()
    assert len(daily) == 1
    d = daily[0]
    assert d.hours_with_data == 24 and d.total_data_points == 1440


def test_streaming_cascade_multi_microbatch(spark, tmp_path):
    """Hours close across SEVERAL micro-batches (maxFilesPerTrigger=1):
    every emission must land in its own (date, hour) partition. Regression
    guard — a date-only hourly sink let each batch's dynamic overwrite
    replace the whole day with just that batch's windows, silently deleting
    hours closed earlier."""
    src = tmp_path / "in"
    src.mkdir()
    ticks = generate_minute_ticks(spark, "2024-02-01").select(
        F.date_format("fetch_time", "yyyy-MM-dd HH:mm:ss").alias("fetch_time"),
        "price_float",
    )
    rows = [
        {"fetch_time": r.fetch_time, "price_float": r.price_float}
        for r in ticks.collect()
    ]
    sentinel = [{"fetch_time": "2024-02-02 02:30:00", "price_float": 1.0}]
    # hours 0-11 | hours 12-23 | watermark sentinel — one micro-batch each
    for i, chunk in enumerate([rows[:720], rows[720:], sentinel]):
        fname = f"{src}/part-{i}.json"
        with open(fname, "w") as f:
            for r in chunk:
                f.write(json.dumps(r) + "\n")
        os.utime(fname, (1_700_000_000 + i, 1_700_000_000 + i))
    hourly_path = str(tmp_path / "hourly")
    daily_path = str(tmp_path / "daily")
    q = jobs.run_cascade(
        jobs.read_tick_stream(spark, str(src), max_files_per_trigger=1),
        hourly_path,
        daily_path,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)
    hourly = spark.read.parquet(hourly_path).filter(F.col("date") == "2024-02-01")
    assert hourly.count() == 24
    daily = spark.read.parquet(daily_path).collect()
    assert len(daily) == 1
    d = daily[0]
    assert d.hours_with_data == 24 and d.total_data_points == 1440


def _write_event_files(spark, path, n_users=12):
    """Real events (users 0..n_users-1) in file 0; two far-future sentinel
    events (user -1) in files 1 and 2. maxFilesPerTrigger=1 makes each file
    its own micro-batch: the sentinels advance the watermark in two steps so
    every real session's event-time timeout provably fires before the
    availableNow run drains (a live stream's later traffic does this
    naturally)."""
    from data_pipelines_cu_spark.catalog import load_table

    ev = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .filter(F.col("user_id") < n_users)
        .select("event_id", F.unix_micros("ts").alias("ts_us"), "user_id")
    )
    rows = [r.asDict() for r in ev.collect()]
    max_us = max(r["ts_us"] for r in rows)
    day_us = 86_400 * 1_000_000
    chunks = [
        rows,
        [{"event_id": -1, "ts_us": max_us + 10 * day_us, "user_id": -1}],
        [{"event_id": -2, "ts_us": max_us + 20 * day_us, "user_id": -1}],
    ]
    for i, chunk in enumerate(chunks):
        fname = f"{path}/part-{i}.json"
        with open(fname, "w") as f:
            for r in chunk:
                f.write(json.dumps(r) + "\n")
        # file source orders batches by modification time; force the intended
        # order (real events first, then the two watermark-advancing sentinels)
        os.utime(fname, (1_700_000_000 + i, 1_700_000_000 + i))


def _read_event_stream(spark, path):
    raw_schema = "event_id long, ts_us long, user_id long"
    return (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .json(path)
        .select("event_id", F.timestamp_micros("ts_us").alias("ts"), "user_id")
    )


def _batch_sessions(spark, src):
    """Gaps-and-islands reference answer over the same files."""
    ev = (
        spark.read.json(str(src))
        .filter(F.col("user_id") >= 0)
        .select(F.timestamp_micros("ts_us").alias("ts"), "user_id")
    )
    return {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.unix_micros(F.min("ts")).alias("session_start_us"),
            F.unix_micros(F.max("ts")).alias("session_end_us"),
        )
        .select("user_id", "session_start_us", "session_end_us", "n_events")
        .collect()
    }


def test_stateful_sessionization_matches_batch(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    _write_event_files(spark, str(src))
    sink = str(tmp_path / "sessions")
    q = (
        jobs.sessionize_stateful(_read_event_stream(spark, str(src)))
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in spark.read.parquet(sink).filter(F.col("user_id") >= 0).collect()
    }
    expected = _batch_sessions(spark, src)
    assert got == expected
    assert len(expected) > 0


def test_streaming_session_window_matches_batch(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    _write_event_files(spark, str(src))
    sink = str(tmp_path / "sessions")
    q = (
        jobs.streaming_session_window(_read_event_stream(spark, str(src)))
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in spark.read.parquet(sink).filter(F.col("user_id") >= 0).collect()
    }
    assert got == _batch_sessions(spark, src)


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Duplicate event_ids across two micro-batches inside the watermark
    horizon dedup to one row each; the batch distinct count is the truth."""
    src = tmp_path / "in"
    src.mkdir()
    rows = [
        {"event_id": i % 50, "ts_us": 1_700_000_000_000_000 + i * 60_000_000,
         "user_id": i % 7}
        for i in range(200)  # every id appears 4x within ~3.3h
    ]
    for i, chunk in enumerate([rows[:100], rows[100:]]):
        fname = f"{src}/part-{i}.json"
        with open(fname, "w") as f:
            for r in chunk:
                f.write(json.dumps(r) + "\n")
        os.utime(fname, (1_700_000_000 + i, 1_700_000_000 + i))
    sink = str(tmp_path / "deduped")
    stream = _read_event_stream(spark, str(src))
    q = (
        jobs.streaming_dedup(stream, ["event_id"], watermark="6 hours")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(sink)
    assert got.count() == 50
    assert got.select("event_id").distinct().count() == 50


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Click->purchase attribution joined across two micro-batches equals
    the batch interval join over the same files."""
    src = tmp_path / "in"
    src.mkdir()
    from data_pipelines_cu_spark.catalog import load_table

    ev = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .filter(F.col("user_id") < 40)
        .select(
            "event_id", F.unix_micros("ts").alias("ts_us"), "user_id",
            "event_type", "value",
        )
    )
    rows = [r.asDict() for r in ev.collect()]
    for i, chunk in enumerate([rows[: len(rows) // 2], rows[len(rows) // 2:]]):
        fname = f"{src}/part-{i}.json"
        with open(fname, "w") as f:
            for r in chunk:
                f.write(json.dumps(r) + "\n")
        os.utime(fname, (1_700_000_000 + i, 1_700_000_000 + i))
    raw_schema = "event_id long, ts_us long, user_id long, event_type string, value double"
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .select(
            "event_id", F.timestamp_micros("ts_us").alias("ts"), "user_id",
            "event_type", "value",
        )
    )
    sink = str(tmp_path / "joined")
    q = (
        jobs.stream_stream_interval_join(stream)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.user_id, r.click_us, r.purchase_us)
        for r in spark.read.parquet(sink).collect()
    }
    b = spark.read.json(str(src)).select(
        F.timestamp_micros("ts_us").alias("ts"), "user_id", "event_type"
    )
    clicks = b.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    purchases = b.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pts")
    )
    expected = {
        (r.cu, r.click_us, r.purchase_us)
        for r in clicks.join(
            purchases,
            (F.col("cu") == F.col("pu"))
            & (F.col("pts") >= F.col("cts"))
            & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 30 minutes")),
        )
        .select("cu", F.unix_micros("cts").alias("click_us"),
                F.unix_micros("pts").alias("purchase_us"))
        .collect()
    }
    assert got == expected
    assert len(expected) > 0


def test_stream_static_enrich_matches_batch(spark, tmp_path):
    """Streamed events enriched against a static user-tier dim equal the
    batch broadcast join over the same rows; no shuffle state involved."""
    src = tmp_path / "in"
    src.mkdir()
    from data_pipelines_cu_spark.catalog import load_table

    ev = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .filter(F.col("user_id") < 60)
        .select("event_id", F.unix_micros("ts").alias("ts_us"), "user_id", "value")
    )
    rows = [r.asDict() for r in ev.collect()]
    for i, chunk in enumerate([rows[: len(rows) // 2], rows[len(rows) // 2:]]):
        fname = f"{src}/part-{i}.json"
        with open(fname, "w") as f:
            for r in chunk:
                f.write(json.dumps(r) + "\n")
        os.utime(fname, (1_700_000_000 + i, 1_700_000_000 + i))
    dim = spark.range(0, 60).select(
        F.col("id").alias("user_id"),
        F.when(F.col("id") % 3 == 0, "gold").otherwise("basic").alias("tier"),
    )
    raw_schema = "event_id long, ts_us long, user_id long, value double"
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    sink = str(tmp_path / "enriched")
    q = (
        jobs.stream_static_enrich(stream, dim)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(sink)
    batch = jobs.stream_static_enrich(
        spark.createDataFrame([tuple(r.values()) for r in rows], raw_schema), dim
    )
    assert got.count() == len(rows)
    assert sorted(
        (r.event_id, r.tier) for r in got.select("event_id", "tier").collect()
    ) == sorted(
        (r.event_id, r.tier) for r in batch.select("event_id", "tier").collect()
    )


def test_streaming_near_dup_filters_across_batches(spark, tmp_path):
    """Two micro-batches (maxFilesPerTrigger=1): batch 2 contains an exact
    dup of its own, a near-dup of a batch-1 doc (word swap), and a fresh
    doc — only the fresh doc (and the first of in-batch dups) survive."""
    import json as _json

    src = tmp_path / "docs_in"
    src.mkdir()
    b1 = [
        {"doc_id": 1, "text": "alpha beta gamma delta epsilon zeta eta theta"},
        {"doc_id": 2, "text": "one two three four five six seven eight nine"},
    ]
    # 101 near-dups doc 1 (one word changed at the end: most shingles shared
    # so several band hashes agree); 102/103 are in-batch exact dups; 104 new
    b2 = [
        {"doc_id": 101, "text": "alpha beta gamma delta epsilon zeta eta iota"},
        {"doc_id": 102, "text": "spark rows join group count window stream batch"},
        {"doc_id": 103, "text": "spark rows join group count window stream batch"},
        {"doc_id": 104, "text": "completely different words about training data here"},
    ]
    for i, chunk in enumerate([b1, b2]):
        p = src / f"part-{i}.json"
        with open(p, "w") as f:
            for r in chunk:
                f.write(_json.dumps(r) + "\n")
        # distinct mtimes: the file source orders batches by modification
        # time, and same-ms writes make batch order nondeterministic
        os.utime(p, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = jobs.run_streaming_near_dup(
        stream,
        survivors_path=str(tmp_path / "survivors"),
        index_path=str(tmp_path / "index"),
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    kept = {
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "survivors")).collect()
    }
    assert 1 in kept and 2 in kept  # first batch all fresh
    assert 101 not in kept  # near-dup of doc 1 across batches
    assert 102 in kept and 103 not in kept  # in-batch dup: lowest id wins
    assert 104 in kept
    # the index holds exactly the survivors' band rows (8 bands each)
    idx = spark.read.parquet(str(tmp_path / "index"))
    assert idx.count() == len(kept) * 8
    assert {r.doc_id for r in idx.select("doc_id").distinct().collect()} == kept


def test_near_dup_batch_replay_idempotent(spark, tmp_path):
    """Replaying a micro-batch after a crash (checkpoint not committed, both
    sinks already written) must not duplicate survivors or let the batch
    collide with its OWN band rows in the index (which would silently drop
    every doc as a self-duplicate)."""
    sv, ix = str(tmp_path / "sv"), str(tmp_path / "ix")
    b0 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "one two three four five six seven eight nine")],
        "doc_id long, text string",
    )
    b1 = spark.createDataFrame(
        [(101, "alpha beta gamma delta epsilon zeta eta iota"),
         (104, "completely different words about training data here")],
        "doc_id long, text string",
    )
    jobs.near_dup_batch(b0, 0, sv, ix)
    jobs.near_dup_batch(b1, 1, sv, ix)
    kept = {r.doc_id for r in spark.read.parquet(sv).collect()}
    assert kept == {1, 2, 104}
    n_idx = spark.read.parquet(ix).count()
    # replay batch 1 (same batch_id) — byte-for-byte same state after
    jobs.near_dup_batch(b1, 1, sv, ix)
    assert {r.doc_id for r in spark.read.parquet(sv).collect()} == {1, 2, 104}
    assert spark.read.parquet(ix).count() == n_idx
    # replay is not an append: exactly one survivor row per doc
    assert spark.read.parquet(sv).count() == 3


def test_streaming_hist_sketch_merges_to_batch_answer(spark, tmp_path):
    """Two micro-batches of events -> per-batch (group, bin) count
    partitions; the merged-read quantiles must equal the one-shot batch
    sketch over the union (mergeability), and replaying a batch must not
    change the counts (idempotency)."""
    import json as _json

    from data_pipelines_cu_spark.operators.sketches import (
        hist_counts,
        hist_quantiles_from_counts,
    )
    from data_pipelines_cu_spark.streaming.jobs import (
        hist_sketch_batch,
        run_streaming_hist_sketch,
    )

    src = tmp_path / "ev_in"
    src.mkdir()
    rows = [
        {"event_type": "click", "value": float(v)} for v in range(0, 50)
    ] + [{"event_type": "buy", "value": float(v) / 2} for v in range(0, 30)]
    half = len(rows) // 2
    for i, chunk in enumerate([rows[:half], rows[half:]]):
        p = src / f"part-{i}.json"
        with open(p, "w") as f:
            for r in chunk:
                f.write(_json.dumps(r) + "\n")
        os.utime(p, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

    counts_path = str(tmp_path / "hist_counts")
    lo, hi = 0.0, 50.0
    stream = (
        spark.readStream.schema("event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = run_streaming_hist_sketch(
        stream, counts_path, str(tmp_path / "ckpt"), lo, hi
    )
    q.awaitTermination(120)

    merged = hist_quantiles_from_counts(
        spark.read.parquet(counts_path).drop("batch_id"), lo, hi
    )
    batch_df = spark.createDataFrame(
        [(r["event_type"], r["value"]) for r in rows],
        "event_type string, value double",
    )
    expected = hist_quantiles_from_counts(hist_counts(batch_df, lo, hi), lo, hi)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, expected.collect())
    )

    # replay idempotency: re-running batch 0 must replace, not double
    before = sorted(map(tuple, spark.read.parquet(counts_path).collect()))
    b0 = spark.read.schema("event_type string, value double").json(
        str(src / "part-0.json")
    )
    hist_sketch_batch(b0, 0, counts_path, lo, hi)
    after = sorted(map(tuple, spark.read.parquet(counts_path).collect()))
    assert before == after


def test_streaming_kmv_merges_to_batch_sketch(spark, tmp_path):
    """The merged stream KMV sketch must equal the one-shot batch sketch
    over the union (KMV's defining property), and a batch replay must not
    change it."""
    import json as _json

    from data_pipelines_cu_spark.operators.sketches import kmv_merge, kmv_sketch
    from data_pipelines_cu_spark.streaming.jobs import (
        kmv_sketch_batch,
        run_streaming_kmv,
    )

    src = tmp_path / "kmv_in"
    src.mkdir()
    rows = [
        {"grp": "a", "uid": i % 37} for i in range(120)
    ] + [{"grp": "b", "uid": i % 11} for i in range(60)]
    half = len(rows) // 2
    for i, chunk in enumerate([rows[:half], rows[half:]]):
        p = src / f"part-{i}.json"
        with open(p, "w") as f:
            for r in chunk:
                f.write(_json.dumps(r) + "\n")
        os.utime(p, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

    path = str(tmp_path / "kmv_sketches")
    stream = (
        spark.readStream.schema("grp string, uid long")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = run_streaming_kmv(stream, path, str(tmp_path / "ck"), ["grp"], "uid", k=16)
    q.awaitTermination(120)

    merged = kmv_merge(
        spark.read.parquet(path).select("grp", "kmv"), ["grp"], k=16
    )
    batch_df = spark.createDataFrame(
        [(r["grp"], r["uid"]) for r in rows], "grp string, uid long"
    )
    expected = kmv_sketch(batch_df, ["grp"], "uid", k=16)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, expected.collect())
    )

    before = sorted(map(tuple, spark.read.parquet(path).collect()))
    b0 = spark.read.schema("grp string, uid long").json(str(src / "part-0.json"))
    kmv_sketch_batch(b0, 0, path, ["grp"], "uid", k=16)
    after = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert before == after


def test_streaming_daily_anomalies_match_batch(spark, tmp_path):
    """Two micro-batches of events -> per-batch day-count partitions; the
    merged-read anomaly report must equal the batch operator over the
    union (counts add), and replaying a batch must not change counts."""
    import json as _json

    from data_pipelines_cu_spark.operators.aggregates import (
        daily_count_anomalies,
    )
    from data_pipelines_cu_spark.streaming.jobs import (
        daily_count_batch,
        daily_anomalies_from_counts,
        run_streaming_daily_anomalies,
    )

    src = tmp_path / "ev_in"
    src.mkdir()
    # 7 weeks of synthetic days: weekday-dependent volume + one spike day.
    # 7 samples per weekday matter: with the spike INCLUDED in its own
    # baseline, the max reachable z is (n-1)/sqrt(n), so k=2 needs n >= 6
    # occurrences of the weekday before any single spike can flag.
    rows = []
    for day in range(1, 50):
        date = f"2024-01-{day:02d}" if day <= 31 else f"2024-02-{day - 31:02d}"
        n = 5 + (day % 7) * 2 + (200 if day == 10 else 0)
        rows += [{"ts": f"{date} 12:{i % 60:02d}:00"} for i in range(n)]
    half = len(rows) // 2
    for i, chunk in enumerate([rows[:half], rows[half:]]):
        p = src / f"part-{i}.json"
        with open(p, "w") as f:
            for r in chunk:
                f.write(_json.dumps(r) + "\n")
        os.utime(p, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

    counts_path = str(tmp_path / "day_counts")
    stream = (
        spark.readStream.schema("ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = run_streaming_daily_anomalies(stream, counts_path, str(tmp_path / "ck"))
    q.awaitTermination(120)

    merged = daily_anomalies_from_counts(spark, counts_path)
    batch_df = spark.createDataFrame(
        [(r["ts"],) for r in rows], "ts string"
    ).selectExpr("CAST(ts AS TIMESTAMP) AS ts")
    expected = daily_count_anomalies(batch_df)
    got = sorted(map(tuple, merged.collect()))
    want = sorted(map(tuple, expected.collect()))
    assert got == want
    # the planted spike day is flagged
    flagged = {r.event_date for r in merged.collect() if r.is_anomaly}
    assert "2024-01-10" in flagged

    # replay idempotency
    before = sorted(map(tuple, spark.read.parquet(counts_path).collect()))
    b0 = spark.read.schema("ts timestamp").json(str(src / "part-0.json"))
    daily_count_batch(b0, 0, counts_path)
    after = sorted(map(tuple, spark.read.parquet(counts_path).collect()))
    assert before == after


def test_streaming_debounce_matches_batch_gate(spark, tmp_path):
    """Cross-batch stateful debounce: the kept-event stream over two
    in-order micro-batches equals the batch debounce_stats gate on the
    union — including bursts that STRADDLE the batch boundary (the
    cross-batch state is exactly what the batch lag sees)."""
    import json as _json

    from data_pipelines_cu_spark.operators.windows import debounce_stats
    from data_pipelines_cu_spark.streaming.jobs import debounce_stateful

    src = tmp_path / "ev_in"
    src.mkdir()
    rows = []
    eid = 0
    # user 1 'click': a burst every ~25s with 3 sub-10s echoes; the
    # 4th burst straddles the file boundary
    for burst in range(6):
        base = burst * 25
        for echo in range(3):
            rows.append(
                {
                    "user_id": 1,
                    "event_type": "click",
                    "event_id": (eid := eid + 1),
                    "ts": f"2024-01-01 00:00:{base + echo * 3:02.0f}"
                    if base + echo * 3 < 60
                    else f"2024-01-01 00:{(base + echo * 3) // 60:02d}:{(base + echo * 3) % 60:02d}",
                }
            )
    half = 10  # splits burst 4 (rows 10-12) across files
    for i, chunk in enumerate([rows[:half], rows[half:]]):
        p = src / f"part-{i}.json"
        with open(p, "w") as f:
            for r in chunk:
                f.write(_json.dumps(r) + "\n")
        os.utime(p, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

    schema = "user_id long, event_type string, event_id long, ts timestamp"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out_path = str(tmp_path / "kept")
    q = (
        debounce_stateful(stream)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    kept = (
        spark.read.parquet(out_path)
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n_kept_stream"))
        .collect()
    )
    batch_df = spark.createDataFrame(
        [(r["user_id"], r["event_type"], r["event_id"], r["ts"]) for r in rows],
        "user_id long, event_type string, event_id long, ts string",
    ).selectExpr(
        "user_id", "event_type", "event_id", "CAST(ts AS TIMESTAMP) AS ts"
    )
    want = {
        (r.user_id, r.event_type): r.n_kept
        for r in debounce_stats(batch_df).collect()
    }
    got = {(r.user_id, r.event_type): r.n_kept_stream for r in kept}
    assert got == want and len(got) == 1


def test_streaming_priority_sample_matches_batch(spark, tmp_path):
    """The merged streaming priority sample must equal the one-shot batch
    sample over the union bit-for-bit (top-k-of-union = top-k of
    per-batch prefixes) — INCLUDING duplicate events: ids that
    legitimately arrive in both micro-batches are real multiset members
    on both paths (the old global .distinct() collapsed them on the
    streaming side only). A batch replay must not change the stored
    prefixes (partition overwrite, not dedup, is what makes replays
    no-ops)."""
    import json as _json

    from data_pipelines_cu_spark.operators.sampling import (
        priority_weighted_sample,
    )
    from data_pipelines_cu_spark.streaming.jobs import (
        priority_sample_batch,
        priority_sample_from_batches,
        run_streaming_priority_sample,
    )

    src = tmp_path / "pri_in"
    src.mkdir()
    rows = [{"doc_id": i, "n_chars": (i * 37) % 500 + 1} for i in range(300)]
    half = len(rows) // 2
    # duplicate events: 20 heavy-ish docs from the first half arrive AGAIN
    # in the second micro-batch, byte-identical
    dups = [dict(r) for r in rows[5:25]]
    chunks = [rows[:half], rows[half:] + dups]
    rows = rows + dups  # the one-shot union is the same multiset
    for i, chunk in enumerate(chunks):
        p = src / f"part-{i}.json"
        with open(p, "w") as f:
            for r in chunk:
                f.write(_json.dumps(r) + "\n")
        os.utime(p, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

    path = str(tmp_path / "pri_prefixes")
    stream = (
        spark.readStream.schema("doc_id long, n_chars long")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = run_streaming_priority_sample(
        stream, path, str(tmp_path / "ck"), "n_chars", "doc_id", k=25
    )
    q.awaitTermination(120)

    merged = priority_sample_from_batches(spark, path, "doc_id", k=25)
    batch_df = spark.createDataFrame(
        [(r["doc_id"], r["n_chars"]) for r in rows], "doc_id long, n_chars long"
    )
    expected = priority_weighted_sample(batch_df, "n_chars", "doc_id", k=25)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, expected.collect())
    )

    before = sorted(map(tuple, spark.read.parquet(path).collect()))
    b0 = spark.read.schema("doc_id long, n_chars long").json(
        str(src / "part-0.json")
    )
    priority_sample_batch(b0, 0, path, "n_chars", "doc_id", k=25)
    after = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert before == after


def test_streaming_psi_matches_batch_reference_psi(spark, tmp_path):
    """Streaming PSI: frozen reference edges + per-batch mergeable bin
    histograms; the merged report must equal psi_against_reference over
    the union of the streamed rows bit-for-bit, and a batch replay must
    not change the stored counts."""
    import json as _json

    from data_pipelines_cu_spark.operators.aggregates import (
        psi_against_reference,
        psi_bin_counts,
        psi_reference_edges,
    )
    from data_pipelines_cu_spark.streaming.jobs import (
        psi_counts_batch,
        psi_report_from_batches,
        run_streaming_psi,
    )

    ref = spark.createDataFrame(
        [(i, float((i * 13) % 100)) for i in range(200)],
        "event_id long, value double",
    )
    edges_path = str(tmp_path / "edges")
    ref_counts_path = str(tmp_path / "ref_counts")
    edges = psi_reference_edges(ref)
    edges.write.parquet(edges_path)
    psi_bin_counts(ref, edges).write.parquet(ref_counts_path)

    # drifted current window streamed in two batches
    cur_rows = [{"event_id": 1000 + i, "value": float((i * 7) % 140 + 20)}
                for i in range(300)]
    src = tmp_path / "psi_in"
    src.mkdir()
    half = len(cur_rows) // 2
    for i, chunk in enumerate([cur_rows[:half], cur_rows[half:]]):
        p = src / f"part-{i}.json"
        with open(p, "w") as f:
            for r in chunk:
                f.write(_json.dumps(r) + "\n")
        os.utime(p, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

    counts_path = str(tmp_path / "psi_counts")
    stream = (
        spark.readStream.schema("event_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = run_streaming_psi(
        stream, counts_path, edges_path, str(tmp_path / "ck")
    )
    q.awaitTermination(120)

    merged = psi_report_from_batches(spark, ref_counts_path, counts_path)
    cur_df = spark.createDataFrame(
        [(r["event_id"], r["value"]) for r in cur_rows],
        "event_id long, value double",
    )
    expected = psi_against_reference(ref, cur_df)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, expected.collect())
    )
    # drift direction sanity: the shifted window must register drift
    assert merged.collect()[0]["psi_total"] > 0.05

    before = sorted(map(tuple, spark.read.parquet(counts_path).collect()))
    b0 = spark.read.schema("event_id long, value double").json(
        str(src / "part-0.json")
    )
    psi_counts_batch(b0, 0, counts_path, edges_path)
    after = sorted(map(tuple, spark.read.parquet(counts_path).collect()))
    assert before == after


def test_streaming_cusum_matches_batch_changepoint(spark, tmp_path):
    """Streaming CUSUM monitor: per-batch mergeable day counts, finished
    through the SAME cusum_from_daily code path as the batch operator —
    the stream-so-far changepoint must equal the batch changepoint over
    the union bit-for-bit (the level shift straddles the micro-batch
    boundary on purpose), and a batch replay must not change the stored
    counts."""
    import json as _json

    from data_pipelines_cu_spark.operators.aggregates import (
        cusum_changepoint,
    )
    from data_pipelines_cu_spark.streaming.jobs import (
        cusum_from_counts,
        daily_count_batch,
        run_streaming_cusum,
    )

    src = tmp_path / "cusum_in"
    src.mkdir()
    rows = []
    for day in range(1, 25):
        n = 3 if day <= 12 else 17  # level shift at day 12/13
        rows += [
            {"ts": f"2024-01-{day:02d} 08:{i % 60:02d}:00"} for i in range(n)
        ]
    half = len(rows) // 2  # splits INSIDE the post-shift regime
    for i, chunk in enumerate([rows[:half], rows[half:]]):
        p = src / f"part-{i}.json"
        with open(p, "w") as f:
            for r in chunk:
                f.write(_json.dumps(r) + "\n")
        os.utime(p, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

    counts_path = str(tmp_path / "cusum_counts")
    stream = (
        spark.readStream.schema("ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = run_streaming_cusum(stream, counts_path, str(tmp_path / "ck_cusum"))
    q.awaitTermination(120)

    merged = cusum_from_counts(spark, counts_path)
    batch_df = spark.createDataFrame(
        [(r["ts"],) for r in rows], "ts string"
    ).selectExpr("CAST(ts AS TIMESTAMP) AS ts")
    expected = cusum_changepoint(batch_df)
    got = sorted(map(tuple, merged.collect()))
    want = sorted(map(tuple, expected.collect()))
    assert got == want
    assert got[0][0] == "2024-01-12"  # the boundary day before the shift

    # replay idempotency: re-running batch 0 must not change the counts
    before = sorted(map(tuple, spark.read.parquet(counts_path).collect()))
    b0 = spark.read.schema("ts timestamp").json(str(src / "part-0.json"))
    daily_count_batch(b0, 0, counts_path)
    after = sorted(map(tuple, spark.read.parquet(counts_path).collect()))
    assert before == after


# --- Stream width: _start_stream sizes a fresh checkpoint to the cores ------


def _recorded_width(checkpoint: str, batch_id: int | str = 0) -> int:
    """spark.sql.shuffle.partitions as recorded in the checkpoint's offset
    log for ``batch_id`` (line 2 of the entry is its metadata JSON)."""
    with open(os.path.join(checkpoint, "offsets", str(batch_id))) as f:
        meta = json.loads(f.read().splitlines()[1])
    return int(meta["conf"]["spark.sql.shuffle.partitions"])


def _write_day(spark, path, date, part):
    """One day of minute ticks plus the sentinel that closes its last
    windows, as one file whose mtime orders it after earlier days."""
    ticks = generate_minute_ticks(spark, date).select(
        F.date_format("fetch_time", "yyyy-MM-dd HH:mm:ss").alias("fetch_time"),
        "price_float",
    )
    rows = [
        {"fetch_time": r.fetch_time, "price_float": r.price_float}
        for r in ticks.collect()
    ]
    nxt = datetime.date.fromisoformat(date) + datetime.timedelta(days=1)
    rows.append({"fetch_time": f"{nxt} 02:30:00", "price_float": 1.0})
    fname = os.path.join(path, f"part-{part}.json")
    with open(fname, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    os.utime(fname, (1_700_000_000 + part, 1_700_000_000 + part))


def _cascade(spark, root, src, width_first=None):
    """Run the cascade over ``src`` once per landed day (two days), like
    the daily ingest cycle. ``width_first`` forces the width the
    checkpoint is created at, by making the cluster look that wide.
    Returns (hourly rows, daily rows, width recorded per batch)."""
    from pyspark import SparkContext

    ckpt = str(root / "ckpt")
    hourly_path, daily_path = str(root / "hourly"), str(root / "daily")
    for day, date in enumerate(["2024-02-01", "2024-02-02"]):
        _write_day(spark, str(src), date, day)
        prior = SparkContext.defaultParallelism
        if day == 0 and width_first is not None:
            SparkContext.defaultParallelism = property(lambda self: width_first)
        try:
            q = jobs.run_cascade(
                jobs.read_tick_stream(spark, str(src)),
                hourly_path,
                daily_path,
                ckpt,
            )
        finally:
            SparkContext.defaultParallelism = prior
        q.awaitTermination(180)
        assert q.exception() is None
    batches = [b for b in os.listdir(os.path.join(ckpt, "offsets")) if b.isdigit()]
    widths = [_recorded_width(ckpt, b) for b in sorted(batches, key=int)]
    hourly = sorted(map(tuple, spark.read.parquet(hourly_path).collect()))
    daily = sorted(map(tuple, spark.read.parquet(daily_path).collect()))
    return hourly, daily, widths


def _with_width(spark, value: str):
    """Set the session's shuffle width; returns the restore callable."""
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", value)
    return lambda: spark.conf.set("spark.sql.shuffle.partitions", prior)


def test_fresh_cascade_checkpoint_records_core_width(spark, tmp_path):
    """A new checkpoint is created at min(session width, cores), read
    from the offset log's conf map, and the caller's width is untouched."""
    src = tmp_path / "in"
    src.mkdir()
    _write_day(spark, str(src), "2024-02-01", 0)
    restore = _with_width(spark, "32")
    try:
        q = jobs.run_cascade(
            jobs.read_tick_stream(spark, str(src)),
            str(tmp_path / "hourly"),
            str(tmp_path / "daily"),
            str(tmp_path / "ckpt"),
        )
        assert spark.conf.get("spark.sql.shuffle.partitions") == "32"
        q.awaitTermination(180)
    finally:
        restore()
    want = min(32, spark.sparkContext.defaultParallelism)
    assert _recorded_width(str(tmp_path / "ckpt")) == want
    assert spark.read.parquet(str(tmp_path / "daily")).count() == 1


def test_wide_checkpoint_resumes_at_its_recorded_width(spark, tmp_path):
    """A checkpoint created 32 wide (the width every stream used before
    the starter narrowed fresh ones) keeps 32 when resumed through the
    starter, and lands the same hourly and daily rows as a checkpoint
    created at the narrow width."""
    restore = _with_width(spark, "32")
    try:
        (tmp_path / "wide_in").mkdir()
        (tmp_path / "narrow_in").mkdir()
        wide = _cascade(
            spark, tmp_path / "wide", tmp_path / "wide_in", width_first=64
        )
        narrow = _cascade(spark, tmp_path / "narrow", tmp_path / "narrow_in")
        assert spark.conf.get("spark.sql.shuffle.partitions") == "32"
    finally:
        restore()
    core = min(32, spark.sparkContext.defaultParallelism)
    assert set(wide[2]) == {32} and len(wide[2]) >= 2
    assert set(narrow[2]) == {core}
    assert wide[0] == narrow[0] and len(wide[0]) == 48
    assert wide[1] == narrow[1] and len(wide[1]) == 2


def test_wide_checkpoint_state_files_carry_checksums(spark, tmp_path):
    """The resumed wide cascade above, with state-store maintenance forced
    to snapshot after every delta: each state delta and snapshot file has
    its checkpoint checksum file (``<file>.crc``, written while
    spark.sql.streaming.checkpoint.fileChecksum.enabled is on, its
    default), so a restart verifies every state file it loads. The
    restart's "No checksum file found for …/<version>.snapshot" warnings
    name snapshot versions that were never written: the provider probes
    for a snapshot before it replays the deltas."""
    import time

    store = spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore
    forced = {
        "spark.sql.streaming.stateStore.minDeltasForSnapshot": "1",
        "spark.sql.streaming.stateStore.maintenanceInterval": "200ms",
    }
    prior = {k: spark.conf.get(k, None) for k in forced}
    # the maintenance task restarts at the next store load, at the
    # session's interval then in force
    store.stopMaintenanceTask()
    for k, v in forced.items():
        spark.conf.set(k, v)
    restore = _with_width(spark, "32")
    state = tmp_path / "wide" / "ckpt" / "state"
    try:
        (tmp_path / "in").mkdir()
        _cascade(spark, tmp_path / "wide", tmp_path / "in", width_first=64)
        deadline = time.monotonic() + 60
        while not any(state.rglob("*.snapshot")) and time.monotonic() < deadline:
            time.sleep(0.2)
    finally:
        restore()
        store.stopMaintenanceTask()
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert spark.conf.get("spark.sql.streaming.checkpoint.fileChecksum.enabled") == "true"
    files = [p for p in state.rglob("*") if p.suffix in (".delta", ".snapshot")]
    assert any(p.suffix == ".snapshot" for p in files)
    assert any(p.suffix == ".delta" for p in files)
    unverified = [str(p) for p in files if not p.with_name(p.name + ".crc").exists()]
    assert not unverified, unverified[:3]


def test_cascade_output_independent_of_width(spark, tmp_path):
    """Guard on the invariance the narrowing relies on: the cascade's
    hourly and daily output at the session's narrow width equals its
    output at 32 partitions."""
    (tmp_path / "w_in").mkdir()
    (tmp_path / "n_in").mkdir()
    restore = _with_width(spark, "32")
    try:
        wide = _cascade(spark, tmp_path / "w", tmp_path / "w_in", width_first=64)
    finally:
        restore()
    restore = _with_width(spark, "2")
    try:
        narrow = _cascade(spark, tmp_path / "n", tmp_path / "n_in")
    finally:
        restore()
    assert set(wide[2]) == {32} and set(narrow[2]) == {2}
    assert wide[0] == narrow[0] and wide[1] == narrow[1]


def test_concurrent_stream_starts_restore_caller_width(
    spark, tmp_path, monkeypatch
):
    """Two threads start streams together (a Pipeline with
    max_parallel > 1): both checkpoints take the core width and the
    caller's session keeps its own width afterwards. The second thread
    enters the starter while the first is inside start(), where an
    unlocked starter would read the first one's narrowed width and
    restore that."""
    import threading
    import time

    from pyspark.sql.streaming import DataStreamWriter

    src = tmp_path / "in"
    src.mkdir()
    _write_day(spark, str(src), "2024-02-01", 0)
    real_start = DataStreamWriter.start
    first_in_start = threading.Event()

    def slow_start(self, *args, **kwargs):
        first_in_start.set()
        time.sleep(0.5)
        return real_start(self, *args, **kwargs)

    monkeypatch.setattr(DataStreamWriter, "start", slow_start)
    queries, errors = [], []

    def start(wait, fn, *paths):
        try:
            if wait:
                assert first_in_start.wait(60)
            queries.append(fn(jobs.read_tick_stream(spark, str(src)), *paths))
        except Exception as exc:  # noqa: BLE001 — re-raised below
            errors.append(exc)

    restore = _with_width(spark, "32")
    try:
        threads = [
            threading.Thread(
                target=start,
                args=(
                    False,
                    jobs.run_cascade,
                    str(tmp_path / "hourly_a"),
                    str(tmp_path / "daily_a"),
                    str(tmp_path / "ckpt_a"),
                ),
            ),
            threading.Thread(
                target=start,
                args=(
                    True,
                    jobs.run_hourly_to_sink,
                    str(tmp_path / "hourly_b"),
                    str(tmp_path / "ckpt_b"),
                ),
            ),
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
            assert not t.is_alive(), "a stream start hung"
        for q in queries:
            q.awaitTermination(180)
        assert not errors, errors
        assert spark.conf.get("spark.sql.shuffle.partitions") == "32"
    finally:
        restore()
    want = min(32, spark.sparkContext.defaultParallelism)
    assert _recorded_width(str(tmp_path / "ckpt_a")) == want
    assert _recorded_width(str(tmp_path / "ckpt_b")) == want


# --- Spark job budgets of the ingest cycle's micro-batch bodies -------------


def test_cascade_cycle_job_budget(spark, tmp_path):
    """One availableNow cascade cycle after the first runs at most 4
    micro-batch jobs (6 before): the data batch closes no window and
    returns after its date collect, and the closing batch reads back only
    its affected date instead of listing every hourly partition."""
    from tests.util import group_jobs

    src = tmp_path / "in"
    src.mkdir()
    for day, date in enumerate(["2024-02-01", "2024-02-02"]):
        _write_day(spark, str(src), date, day)
        q = jobs.run_cascade(
            jobs.read_tick_stream(spark, str(src)),
            str(tmp_path / "hourly"),
            str(tmp_path / "daily"),
            str(tmp_path / "ckpt"),
        )
        q.awaitTermination(180)
        assert q.exception() is None
    n = group_jobs(spark, str(q.runId))
    assert n <= 4, n
    daily = spark.read.parquet(str(tmp_path / "daily")).collect()
    # day 2 also holds day 1's sentinel tick (02:30)
    assert sorted(r.total_data_points for r in daily) == [1440, 1441]


def test_near_dup_batch_job_budget(spark, tmp_path):
    """A near-dup micro-batch cuts its surviving band rows once: the
    operator no longer cuts its own band frame, so the body runs at most
    10 Spark jobs (15 before)."""
    from tests.util import jobs_of

    sv, ix = str(tmp_path / "sv"), str(tmp_path / "ix")
    b0 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "one two three four five six seven eight nine")],
        "doc_id long, text string",
    )
    b1 = spark.createDataFrame(
        [(101, "alpha beta gamma delta epsilon zeta eta iota"),
         (104, "completely different words about training data here")],
        "doc_id long, text string",
    )
    jobs.near_dup_batch(b0, 0, sv, ix)
    n = jobs_of(spark, lambda: jobs.near_dup_batch(b1, 1, sv, ix))
    assert n <= 10, n
    assert {r.doc_id for r in spark.read.parquet(sv).collect()} == {1, 2, 104}
