"""Round-10 surfaces: the ADVICE guard fixes (packer name collisions,
SQL-twin NULL loudness), degenerate packing probes, streaming-packer
checkpoint recovery, the revenue-KPI merge, and the BPE→pack composite.
"""

from __future__ import annotations

import pytest

from data_pipelines_cu_spark.operators import sampling as smp
from tests import media_encoders as enc


def test_pack_sequences_rejects_id_equals_token_col():
    """id_col == token_col would select the same column twice and make
    pdf[token_col] a 2-column frame inside the executor — rejected at
    plan build, like the reserved-name collisions (ADVICE r9)."""
    with pytest.raises(ValueError, match="distinct"):
        smp.pack_sequences(
            None, budget=100, id_col="n_tokens", token_col="n_tokens"
        )


def test_pack_stateful_rejects_reserved_and_duplicate_names():
    """The streaming twin mirrors the batch packer's reserved-name
    guard (ADVICE r9): caller columns named seq/seq_pos/oversize, or
    two caller columns sharing a name, fail at build instead of
    emitting a duplicate-field StructType."""
    from data_pipelines_cu_spark.streaming.jobs import pack_stateful

    with pytest.raises(ValueError, match="collide"):
        pack_stateful(None, budget=100, id_col="seq")
    with pytest.raises(ValueError, match="collide"):
        pack_stateful(None, budget=100, pos_col="seq_pos")
    with pytest.raises(ValueError, match="collide"):
        pack_stateful(None, budget=100, shard_col="oversize")
    with pytest.raises(ValueError, match="distinct"):
        pack_stateful(None, budget=100, id_col="pos", pos_col="pos")


def test_pack_sql_twins_raise_on_null_tokens():
    """The SQL twins fail as loudly as the Spark side on NULL token
    values (ADVICE r9): without the guard, ``tok > budget`` evaluates
    to NULL and silently corrupts every later seq/oversize in the
    shard, so an unfiltered future registration would diverge quietly
    instead of erroring."""
    import duckdb

    con = duckdb.connect()
    con.sql(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        "(1, 10), (2, 20), (3, NULL), (4, 5)) t(doc_id, n_chars)"
    )
    with pytest.raises(Exception, match="NULL n_chars"):
        con.sql(smp.pack_sequences_sql(25)).fetchall()
    with pytest.raises(Exception, match="NULL n_chars"):
        con.sql(smp.pack_manifest_sql(25)).fetchall()
    # pre-filtered registrations stay silent and complete
    clean = con.sql(
        smp.pack_sequences_sql(
            25, table="(SELECT * FROM documents WHERE n_chars IS NOT NULL)"
        )
    ).fetchall()
    assert len(clean) == 3


# --- blocked-rank width: no plan compile, no hidden job ----------------------


def _classic_df_class():
    """The concrete DataFrame class local sessions instantiate — PySpark
    4 routes classic (non-Connect) sessions through a subclass that
    overrides .rdd, so patching the pyspark.sql.DataFrame base would
    count nothing."""
    try:
        from pyspark.sql.classic.dataframe import DataFrame as _DF
    except ImportError:  # pragma: no cover — older pyspark layout
        from pyspark.sql import DataFrame as _DF
    return _DF


def _counting_rdd_property(cls):
    """Wrap cls.rdd in a counter so tests can assert how many plan
    compiles a code path pays. The classic ``rdd`` is a
    functools.cached_property (no ``fget``), so the getter delegates
    through the descriptor protocol — the wrapped access really
    converts."""
    original = cls.__dict__["rdd"]
    counter = {"n": 0}

    def getter(self):
        counter["n"] += 1
        return original.__get__(self, type(self))

    return property(getter), original, counter


def test_blocked_rank_with_hint_never_converts_to_rdd(spark):
    """No rank-family call pays a df.rdd plan compile: the
    block count and the merge width are the session's shuffle width,
    read from the conf."""
    from data_pipelines_cu_spark.operators.windows import (
        blocked_ntile,
        blocked_row_number,
        take_ordered,
    )

    _DF = _classic_df_class()
    df = spark.range(0, 1000).selectExpr("id", "id % 7 AS v")
    prop, original, counter = _counting_rdd_property(_DF)
    _DF.rdd = prop
    try:
        blocked_row_number(df, ["v", "id"], "_r").count()
        blocked_ntile(df, ["v", "id"], 4).count()
        take_ordered(df, ["v", "id"], 5).count()
    finally:
        _DF.rdd = original
    assert counter["n"] == 0, f"{counter['n']} hidden plan compiles"


def test_rank_family_plan_build_runs_no_spark_job(spark, monkeypatch):
    """Building a rank or top-n plan over an already-shuffled frame (a
    groupBy result) runs no Spark job and never touches df.rdd — under
    AQE, df.rdd on such a frame runs its shuffle stage. Jobs are counted
    over the whole application, not one job group, so no job escapes
    the count; the blocked rank's own eager lineage cut is the only work
    allowed, and its jobs are subtracted. Covers take_ordered n=300 on
    both branches."""
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators import windows as win

    sc = spark.sparkContext

    def app_jobs():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return sc._jsc.sc().statusStore().jobsList(None).size()

    cut_jobs = [0]
    real_cut = win.lineage_cut

    def counted_cut(df, *args, **kwargs):
        before = app_jobs()
        try:
            return real_cut(df, *args, **kwargs)
        finally:
            cut_jobs[0] += app_jobs() - before

    monkeypatch.setattr(win, "lineage_cut", counted_cut)

    def shuffled():
        # a fresh frame per build: a frame's AQE stages run at most once
        return (
            spark.range(0, 20_000)
            .groupBy((F.col("id") % 997).alias("g"))
            .agg(F.count(F.lit(1)).alias("c"), F.sum("id").alias("s"))
        )

    order = [F.col("s").desc(), F.col("g")]

    def blocked_top():
        monkeypatch.setattr(win, "MERGE_ROWS_BUDGET", 0)
        return win.take_ordered(shuffled(), order, 300, rank_col="rk")

    _DF = _classic_df_class()
    prop, original, counter = _counting_rdd_property(_DF)
    plans = {}
    _DF.rdd = prop
    try:
        for name, build_plan in [
            ("blocked_row_number",
             lambda: win.blocked_row_number(shuffled(), order)),
            ("blocked_ntile", lambda: win.blocked_ntile(shuffled(), order, 4)),
            ("take_ordered fast",
             lambda: win.take_ordered(shuffled(), order, 300, rank_col="rk")),
            ("take_ordered blocked", blocked_top),
        ]:
            cut_jobs[0] = 0
            before = app_jobs()
            plans[name] = build_plan()
            assert app_jobs() - before - cut_jobs[0] == 0, name
    finally:
        _DF.rdd = original
    assert counter["n"] == 0, f"{counter['n']} df.rdd accesses"

    def executed(name):
        return plans[name]._jdf.queryExecution().executedPlan().toString()

    assert "TakeOrderedAndProject" in executed("take_ordered fast")
    assert "TakeOrderedAndProject" not in executed("take_ordered blocked")
    assert plans["take_ordered fast"].count() == 300
    assert plans["take_ordered blocked"].count() == 300


# --- degenerate probes for the round-9 surfaces --------------------------------


def test_pack_all_oversize_matches_sql_twin(spark):
    """Budget smaller than EVERY document: each window is an oversize
    singleton — and the Spark fold stays bit-identical to the recursive
    SQL walk in that regime (the r9 suite pinned the Spark-side
    invariants; this pins cross-engine parity where the walk's acc
    column is NULL on every step)."""
    import duckdb

    rows = [(i, 200 + i) for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")
    con = duckdb.connect()
    con.sql(
        "CREATE TABLE allover AS SELECT * FROM (VALUES "
        + ",".join(f"({i},{t})" for i, t in rows)
        + ") v(doc_id, n_chars)"
    )
    got = sorted(
        map(
            tuple,
            smp.pack_sequences(
                df, budget=100, token_col="n_chars", n_shards=2
            )
            .select("doc_id", "shard", "pos", "seq", "seq_pos", "oversize")
            .collect(),
        )
    )
    exp = sorted(
        map(
            tuple,
            con.sql(
                smp.pack_sequences_sql(100, table="allover", n_shards=2)
            ).fetchall(),
        )
    )
    assert got == exp
    assert all(r[5] and r[4] == 0 for r in got)  # every doc alone
    assert len({(r[1], r[3]) for r in got}) == len(rows)


def test_pack_all_zero_token_shard_never_closes(spark):
    """A shard whose docs are ALL zero-token: nothing ever overflows, so
    the window never closes — every doc lands in (seq 0) with ascending
    seq_pos. The defined semantics (a window closes only when NON-EMPTY
    and the NEXT doc would overflow — the seq_pos>0 rule) and the SQL
    twin agree; a trainer feeding empty docs sees one unbounded window,
    not a crash or a per-doc window."""
    import duckdb

    rows = [(i, 0) for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")
    out = smp.pack_sequences(
        df, budget=64, token_col="n_chars", n_shards=1
    ).collect()
    assert {r.seq for r in out} == {0}
    assert sorted(r.seq_pos for r in out) == list(range(8))
    con = duckdb.connect()
    con.sql(
        "CREATE TABLE zeros AS SELECT * FROM (VALUES "
        + ",".join(f"({i},0)" for i, _ in rows)
        + ") v(doc_id, n_chars)"
    )
    exp = sorted(
        map(
            tuple,
            con.sql(
                smp.pack_sequences_sql(64, table="zeros", n_shards=1)
            ).fetchall(),
        )
    )
    got = sorted(
        map(
            tuple,
            df.transform(
                lambda d: smp.pack_sequences(
                    d, budget=64, token_col="n_chars", n_shards=1
                )
            )
            .select("doc_id", "shard", "pos", "seq", "seq_pos", "oversize")
            .collect(),
        )
    )
    assert got == exp


def test_pack_manifest_exact_fill_rate_tie(spark):
    """fill_rate at EXACTLY 1.0 — the 6dp round's tie case: windows
    whose tokens sum precisely to the budget must hash-match the SQL
    twin (both sides compute one IEEE division of an exact integer sum,
    so the tie is bit-stable, but only a probe proves it)."""
    import duckdb

    # one shard; 60+40 fills budget 100 exactly, then an exact 100
    rows = [(1, 60), (2, 40), (3, 100)]
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")
    got = {
        (r.shard, r.seq): (r.n_docs, r.window_tokens, r.has_oversize, r.fill_rate)
        for r in smp.pack_manifest(
            df, budget=100, token_col="n_chars", n_shards=1
        ).collect()
    }
    assert all(v[3] == 1.0 for v in got.values()), got
    con = duckdb.connect()
    con.sql(
        "CREATE TABLE exact3 AS SELECT * FROM (VALUES "
        "(1,60),(2,40),(3,100)) v(doc_id, n_chars)"
    )
    exp = {
        (r[0], r[1]): tuple(r[2:])
        for r in con.sql(
            smp.pack_manifest_sql(100, table="exact3", n_shards=1)
        ).fetchall()
    }
    assert got == exp


def test_webp_color_cache_only_stream():
    """A stream where every pixel after the first is a color-cache hit:
    the literal red/blue/alpha prefix codes are built but never read
    after pixel 0 (single-symbol simple codes — zero bits per symbol),
    which is exactly the degenerate tree shape a decoder indexes wrong
    if it assumes at least one literal per row. Both the minimum and
    maximum cache sizes, and a cache seeded by two alternating colors."""
    import numpy as np

    from data_pipelines_cu_spark.operators import multimodal as mm

    uniform = np.tile(
        np.array([[[37, 201, 96]]], np.uint8), (11, 13, 1)
    )
    for bits in (1, 11):
        blob = enc.encode_webp_lossless(uniform, cache_bits=bits)
        assert np.array_equal(mm.decode_pixels(blob), uniform)
    two = np.zeros((6, 8, 3), np.uint8)
    two[:, 1::2] = (255, 10, 7)
    blob = enc.encode_webp_lossless(two, cache_bits=2)
    assert np.array_equal(mm.decode_pixels(blob), two)


# --- streaming packer: checkpoint recovery -------------------------------------


def test_streaming_pack_recovers_from_checkpoint(spark, tmp_path):
    """Kill-and-restart recovery: the packer stream processes a prefix,
    the query is STOPPED, a brand-new query resumes from the same
    checkpoint over newly arrived files — and the union of outputs still
    equals batch pack_sequences bit-for-bit, including windows that
    straddle the restart (the open-window (seq, acc, seq_pos) state must
    survive the state-store round-trip, not just micro-batch handoff).
    This is exactly where a 100 TB streaming job breaks silently: a
    state schema/restore bug packs post-restart docs into fresh windows
    and nothing crashes."""
    import json as _json
    import os

    from data_pipelines_cu_spark.streaming.jobs import pack_stateful

    docs = spark.createDataFrame(
        [(i, [120, 512, 1, 3000, 480, 2048, 7][i % 7] + i % 13)
         for i in range(90)],
        "doc_id long, n_tokens long",
    )
    batch = {
        r.doc_id: (r.shard, r.pos, r.seq, r.seq_pos, r.oversize)
        for r in smp.pack_sequences(docs, budget=1024, n_shards=3).collect()
    }
    ordered = smp.training_shard_order(docs, "doc_id", 3)
    rows = sorted((r.pos, r.shard, r.doc_id) for r in ordered.collect())
    toks = {r.doc_id: r.n_tokens for r in docs.collect()}
    src = tmp_path / "docs_in"
    src.mkdir()

    def write_file(idx: int, chunk) -> None:
        with open(src / f"part-{idx}.json", "w") as f:
            for pos, shard, doc_id in chunk:
                f.write(
                    _json.dumps(
                        {"doc_id": doc_id, "shard": shard, "pos": pos,
                         "n_tokens": toks[doc_id]}
                    )
                    + "\n"
                )
        os.utime(
            src / f"part-{idx}.json",
            (1_700_000_000 + idx * 60, 1_700_000_000 + idx * 60),
        )

    out_path = str(tmp_path / "packed")
    ck = str(tmp_path / "ck")

    def run_until_drained() -> None:
        stream = (
            spark.readStream.schema(
                "doc_id long, shard int, pos long, n_tokens long"
            )
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = (
            pack_stateful(stream, budget=1024)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_path)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "streaming pack timed out"

    # first incarnation sees only a pos-prefix of every shard, then dies
    third = (len(rows) + 2) // 3
    write_file(0, rows[:third])
    run_until_drained()
    seen_first = spark.read.parquet(out_path).count()
    assert 0 < seen_first < len(rows)
    # the remaining files arrive while the job is DOWN; a new query
    # resumes from the checkpointed state store
    write_file(1, rows[third : 2 * third])
    write_file(2, rows[2 * third :])
    run_until_drained()
    got = {
        r.doc_id: (r.shard, r.pos, r.seq, r.seq_pos, r.oversize)
        for r in spark.read.parquet(out_path).collect()
    }
    assert got == batch and len(got) == 90


def test_stateful_sessionization_recovers_from_checkpoint(spark, tmp_path):
    """Same kill-and-restart pattern for the OTHER custom stateful
    operator: the first incarnation drains only the real-event file, so
    every session is still OPEN in the state store when the query stops;
    the watermark-advancing sentinels arrive while the job is down, and
    a new query resuming from the checkpoint must fire the event-time
    timeouts and emit sessions identical to batch session_window. A
    restore bug here silently re-opens sessions as singletons."""
    import os

    from data_pipelines_cu_spark.streaming import jobs
    from tests.test_streaming import (
        _batch_sessions,
        _read_event_stream,
        _write_event_files,
    )

    src = tmp_path / "in"
    src.mkdir()
    _write_event_files(spark, str(src))
    # hold back the sentinel files: incarnation 1 sees only real events
    held = []
    for i in (1, 2):
        p = src / f"part-{i}.json"
        held.append((p, p.read_text(), os.stat(p).st_mtime))
        p.unlink()
    sink = str(tmp_path / "sessions")
    ck = str(tmp_path / "ckpt")

    def run_once() -> None:
        q = (
            jobs.sessionize_stateful(_read_event_stream(spark, str(src)))
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180), "sessionize stream timed out"

    run_once()
    import pyspark.sql.functions as F

    expected = _batch_sessions(spark, src)
    # the in-batch watermark (no-data batches) already closes most
    # sessions, but the LAST sessions near max event time can only time
    # out once the held-back sentinels advance the watermark — those are
    # the ones whose open state must survive the restart
    emitted_first = (
        spark.read.parquet(sink).filter(F.col("user_id") >= 0).count()
        if os.listdir(sink)
        else 0
    )
    assert emitted_first < len(expected), (
        "nothing left open in state — the recovery case needs sessions "
        "that straddle the restart"
    )
    for p, text, mtime in held:
        p.write_text(text)
        os.utime(p, (mtime, mtime))
    run_once()
    got = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in spark.read.parquet(sink)
        .filter(F.col("user_id") >= 0)
        .collect()
    }
    assert got == expected and len(expected) > 0


def test_streaming_pack_manifest_matches_batch(spark, tmp_path):
    """Streaming padding-efficiency monitor parity: per-micro-batch
    (shard, seq) partials merged at read time equal the one-shot batch
    pack_manifest bit-for-bit — including windows that STRADDLE a
    micro-batch boundary (their n_docs/window_tokens arrive as partials
    from two batches and must sum exactly; fill_rate is the same single
    IEEE division on both sides)."""
    import json as _json
    import os

    from data_pipelines_cu_spark.streaming.jobs import (
        pack_manifest_from_batches,
        run_streaming_pack_manifest,
    )

    docs = spark.createDataFrame(
        [(i, [120, 512, 1, 3000, 480, 2048, 7][i % 7] + i % 13)
         for i in range(90)],
        "doc_id long, n_tokens long",
    )
    batch = {
        (r.shard, r.seq): (
            r.n_docs, r.window_tokens, r.has_oversize, r.fill_rate
        )
        for r in smp.pack_manifest(docs, budget=1024, n_shards=3).collect()
    }
    ordered = smp.training_shard_order(docs, "doc_id", 3)
    rows = sorted((r.pos, r.shard, r.doc_id) for r in ordered.collect())
    toks = {r.doc_id: r.n_tokens for r in docs.collect()}
    src = tmp_path / "docs_in"
    src.mkdir()
    third = (len(rows) + 2) // 3
    for i in range(3):
        with open(src / f"part-{i}.json", "w") as f:
            for pos, shard, doc_id in rows[i * third : (i + 1) * third]:
                f.write(
                    _json.dumps(
                        {"doc_id": doc_id, "shard": shard, "pos": pos,
                         "n_tokens": toks[doc_id]}
                    )
                    + "\n"
                )
        os.utime(
            src / f"part-{i}.json",
            (1_700_000_000 + i * 60, 1_700_000_000 + i * 60),
        )
    stream = (
        spark.readStream.schema(
            "doc_id long, shard int, pos long, n_tokens long"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    counts = str(tmp_path / "manifest_counts")
    q = run_streaming_pack_manifest(
        stream, budget=1024, counts_path=counts,
        checkpoint=str(tmp_path / "ck"),
    )
    assert q.awaitTermination(120), "streaming manifest timed out"
    # more than one batch contributed partials (straddling is exercised)
    import pyspark.sql.functions as F

    partials = spark.read.parquet(counts)
    assert partials.select("batch_id").distinct().count() >= 2
    straddle = (
        partials.groupBy("shard", "seq")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert straddle >= 1, "no window straddled a micro-batch boundary"
    got = {
        (r.shard, r.seq): (
            r.n_docs, r.window_tokens, r.has_oversize, r.fill_rate
        )
        for r in pack_manifest_from_batches(spark, counts, 1024).collect()
    }
    assert got == batch and len(got) > 0


def test_streaming_pack_manifest_recovers_from_checkpoint(spark, tmp_path):
    """Monitor kill-and-restart: incarnation 1 drains a pos-prefix, the
    remaining files arrive while the job is down, incarnation 2 resumes
    from the checkpoint — the merged manifest still equals one-shot
    batch. Exercises BOTH recovery surfaces at once: the packer's
    open-window state restore AND foreachBatch partial idempotency
    (a replayed batch_id must replace its partition, not double it)."""
    import json as _json
    import os

    from data_pipelines_cu_spark.streaming.jobs import (
        pack_manifest_from_batches,
        run_streaming_pack_manifest,
    )

    docs = spark.createDataFrame(
        [(i, [120, 512, 1, 3000, 480, 2048, 7][i % 7] + i % 13)
         for i in range(90)],
        "doc_id long, n_tokens long",
    )
    batch = {
        (r.shard, r.seq): (
            r.n_docs, r.window_tokens, r.has_oversize, r.fill_rate
        )
        for r in smp.pack_manifest(docs, budget=1024, n_shards=3).collect()
    }
    ordered = smp.training_shard_order(docs, "doc_id", 3)
    rows = sorted((r.pos, r.shard, r.doc_id) for r in ordered.collect())
    toks = {r.doc_id: r.n_tokens for r in docs.collect()}
    src = tmp_path / "docs_in"
    src.mkdir()

    def write_file(idx, chunk):
        with open(src / f"part-{idx}.json", "w") as f:
            for pos, shard, doc_id in chunk:
                f.write(
                    _json.dumps(
                        {"doc_id": doc_id, "shard": shard, "pos": pos,
                         "n_tokens": toks[doc_id]}
                    )
                    + "\n"
                )
        os.utime(
            src / f"part-{idx}.json",
            (1_700_000_000 + idx * 60, 1_700_000_000 + idx * 60),
        )

    counts = str(tmp_path / "manifest_counts")
    ck = str(tmp_path / "ck")

    def run_once():
        stream = (
            spark.readStream.schema(
                "doc_id long, shard int, pos long, n_tokens long"
            )
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = run_streaming_pack_manifest(
            stream, budget=1024, counts_path=counts, checkpoint=ck
        )
        assert q.awaitTermination(120), "streaming manifest timed out"

    third = (len(rows) + 2) // 3
    write_file(0, rows[:third])
    run_once()
    partial_windows = pack_manifest_from_batches(spark, counts, 1024).count()
    assert 0 < partial_windows < len(batch)
    write_file(1, rows[third : 2 * third])
    write_file(2, rows[2 * third :])
    run_once()
    got = {
        (r.shard, r.seq): (
            r.n_docs, r.window_tokens, r.has_oversize, r.fill_rate
        )
        for r in pack_manifest_from_batches(spark, counts, 1024).collect()
    }
    assert got == batch and len(got) > 0


# --- take_ordered ordering contract ---------------------------------------------


def test_take_ordered_rank_col_reorders_to_orderby_limit(spark, monkeypatch):
    """Consumer-side closure of the r8 ordering note: take_ordered's
    blocked path returns the selection UNORDERED — the contract is the
    row set plus rank_col — so a caller that sorts by rank_col must get
    byte-identical output to the old orderBy().limit() path, on BOTH
    branches."""
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators import windows as win
    from data_pipelines_cu_spark.operators.windows import take_ordered

    df = spark.range(0, 5000).selectExpr(
        "id", "CAST(pmod(id * 2654435761, 9973) AS LONG) AS v"
    )
    order = [F.col("v").desc(), F.col("id")]
    expected = [
        (r.id, r.v)
        for r in df.orderBy(*order).limit(40).collect()
    ]
    # fast path (n * width well under the default budget)
    fast = take_ordered(df, order, 40, rank_col="rk")
    got_fast = [
        (r.id, r.v) for r in fast.orderBy("rk").collect()
    ]
    assert got_fast == expected
    # blocked path (1-row budget forces it), same consumer recipe
    monkeypatch.setattr(win, "MERGE_ROWS_BUDGET", 1)
    monkeypatch.setattr(win, "post_shuffle_width", lambda session: 8)
    blocked = take_ordered(df, order, 40, rank_col="rk")
    got_blocked = [
        (r.id, r.v) for r in blocked.orderBy("rk").collect()
    ]
    assert got_blocked == expected
    # and the rank column itself is the 1-based selection order
    assert [r.rk for r in blocked.orderBy("rk").collect()] == list(
        range(1, 41)
    )


# --- bench regression detection -----------------------------------------------


def test_detect_regressions_normalizes_by_cpu_probe():
    """The mechanical replacement for rounds 8-9's hand-litigated drift
    analysis: uniform box slowdown does NOT flag, a genuine per-query
    blow-up does, sub-floor noise never does, and a missing/probe-less
    prior degrades to an empty list."""
    import importlib.util
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "bench", Path(__file__).resolve().parent.parent / "bench.py"
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    prior = {
        "queries": {"a": 2.0, "b": 1.0},
        "long_tail": {"c": 0.1, "d": 4.0},
        "diagnostics": {"cpu_probe": 2.0},
    }
    # box 2x slower (probe 2.0 -> 4.0): uniformly-doubled walls are drift
    assert bench.detect_regressions(
        {"a": 4.0, "b": 2.0, "c": 0.2, "d": 8.0}, prior, 4.0
    ) == []
    # same box: query 'a' tripled -> flagged with the right ratio;
    # 'c' tripled but under the 0.5s floor -> noise, not flagged
    got = bench.detect_regressions(
        {"a": 6.0, "b": 1.0, "c": 0.3, "d": 4.0}, prior, 2.0
    )
    assert [r["query"] for r in got] == ["a"]
    assert got[0]["normalized_ratio"] == 3.0
    # worst ratio sorts first
    got = bench.detect_regressions({"a": 6.0, "d": 40.0}, prior, 2.0)
    assert [r["query"] for r in got] == ["d", "a"]
    # no prior / no probe -> empty, never an exception
    assert bench.detect_regressions({"a": 6.0}, None, 2.0) == []
    assert bench.detect_regressions({"a": 6.0}, {"queries": {"a": 1}}, 2.0) == []
    # an anchor from a DIFFERENT scale factor never compares: the probe
    # ratio normalizes box speed, not data volume (a smoke-run detail at
    # sf0.001 would otherwise flag the whole registry)
    prior_sf = dict(prior, sf=0.001)
    assert bench.detect_regressions({"a": 60.0}, prior_sf, 2.0, sf=0.1) == []
    assert (
        bench.detect_regressions(
            {"a": 6.0}, dict(prior, sf=0.1), 2.0, sf=0.1
        )[0]["query"]
        == "a"
    )


# --- gate-rotation arithmetic -------------------------------------------------


def test_bench_headline_names_are_registered():
    """Every bench headline name must exist in the registry: a merged or
    retired query left in HEADLINE would KeyError 30 queries into the
    driver's bench run, losing the round's artifact."""
    import importlib.util
    from pathlib import Path

    from data_pipelines_cu_spark.queries import QUERIES

    spec = importlib.util.spec_from_file_location(
        "bench", Path(__file__).resolve().parent.parent / "bench.py"
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    missing = [n for n in bench.HEADLINE if n not in QUERIES]
    assert not missing, f"headline names not in registry: {missing}"
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE), "duplicate headline"


def test_registry_fits_gate_rotation_window():
    """The driver gate verifies 50 queries per round and the repo's
    freshness standard is 'newest gate row >= N-3', i.e. every query
    re-verified within 4 rounds. That is only satisfiable when the
    registry holds at most 4 x 50 = 200 entries — round 9 proved it:
    202 entries left two rows 4 rounds stale. Growing past 200 requires
    merging or retiring an existing entry first (the round-10
    lineitem_revenue_kpis merge is the pattern)."""
    from data_pipelines_cu_spark.queries import QUERIES

    assert len(QUERIES) <= 200, (
        f"{len(QUERIES)} registered queries > 200 gate slots (4 rounds x "
        "50) — merge or retire an entry before adding another"
    )


def test_rotation_front_loads_stalest_gate_rows():
    """all_queries() must order ungated entries first, then verified
    entries by ascending gate round — so the driver's 50-slot window
    always re-checks the stalest evidence. Guards the exact failure
    round 9 surfaced: two r5-era rows aged out of the window for four
    straight rounds."""
    from data_pipelines_cu_spark.queries import QUERIES, _gate_verified, all_queries

    verified = _gate_verified()
    names = list(all_queries())
    assert set(names) == set(QUERIES)
    # every ungated entry precedes every gated one
    gated_flags = [n in verified for n in names]
    first_gated = gated_flags.index(True) if True in gated_flags else len(names)
    assert all(gated_flags[first_gated:]), "ungated entry after a gated one"
    # gated tail is sorted by verification age (stalest first)
    rounds = [verified[n] for n in names[first_gated:]]
    assert rounds == sorted(rounds), "verified tail not oldest-first"
    # the two rows round 9 left stale must sit inside the next window
    window = set(names[:50])
    for stale in ("parts_co_ordered", "event_debounce_stats"):
        if stale in QUERIES and verified.get(stale, 99) <= 5:
            assert stale in window, f"{stale} still outside the gate window"
