"""Round-12 surfaces: the stall-sensitive bench yardstick (sched_probe,
per-query min, stall_suspect flags), plan_audit detector 4 (repeated
corpus tokenization), the single-action foreachBatch migration of the 8
remaining isEmpty() guards, the IVF wave-base pin (fresh checkpoint vs
populated index), legacy-index guards, and degenerate/recovery probes
for the round-11 surfaces (BPE artifact time travel, TV-drift monitor
empty paths)."""

from __future__ import annotations

import importlib.util
import json
import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


def _load(name: str):
    spec = importlib.util.spec_from_file_location(name, REPO / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# --- bench: stall-sensitive yardstick ----------------------------------------


def test_sched_probe_reports_trivial_job_latency(spark):
    """The diagnostic the r10 calibration row demanded: cpu_probe cannot
    see scheduler-starvation spells (one fat job amortizes scheduling to
    nothing), so the bench records the median/min wall of 20 trivial
    one-task jobs. Pin the field names and sanity bounds — the values
    are box state, not code."""
    bench = _load("bench")
    out = bench.sched_probe(spark)
    assert set(out) == {"sched_probe_ms", "sched_probe_min_ms"}
    assert 0 < out["sched_probe_min_ms"] <= out["sched_probe_ms"]
    assert out["sched_probe_ms"] < 60_000  # a minute-long no-op is a bug


def test_detect_regressions_stall_suspect_annotation():
    """A flag whose per-query MIN clears the threshold the median
    tripped is mechanically attributable to queueing (at least one
    repeat ran at expected speed): it carries stall_suspect=true. A flag
    whose min ALSO blows the threshold does not — that is a plan change
    until proven otherwise."""
    bench = _load("bench")
    prior = {
        "sf": 0.1,
        "queries": {"q": 1.0},
        "diagnostics": {"cpu_probe": 2.0},
    }
    stall = bench.detect_regressions(
        {"q": 4.0}, prior, 2.0, current_min={"q": 1.2}
    )
    assert stall[0]["stall_suspect"] and stall[0]["min_ratio"] == 1.2
    real = bench.detect_regressions(
        {"q": 4.0}, prior, 2.0, current_min={"q": 3.9}
    )
    assert "stall_suspect" not in real[0] and real[0]["min_ratio"] == 3.9
    # without min data the entry degrades to the old shape, no crash
    legacy = bench.detect_regressions({"q": 4.0}, prior, 2.0)
    assert "min_ratio" not in legacy[0]


def test_load_anchor_extracts_round_with_anchored_regex(tmp_path):
    """The ADVICE hazard: int(''.join(digits)) turned a hypothetical
    BENCH_ANCHOR_r2_sf1 stem into round 21 and out-ranked r12. The
    anchored regex ignores non-conforming stems entirely and newest
    round still wins."""
    bench = _load("bench")

    def write(name, probe):
        (tmp_path / name).write_text(
            json.dumps(
                {"queries": {"q": 1.0}, "diagnostics": {"cpu_probe": probe}}
            )
        )

    write("BENCH_ANCHOR_r2.json", 1.0)
    write("BENCH_ANCHOR_r12.json", 2.0)
    write("BENCH_ANCHOR_r2_sf1.json", 9.0)  # would parse as 21 digit-joined
    anchor, source = bench.load_anchor(tmp_path)
    assert source == "BENCH_ANCHOR_r12.json"
    assert anchor["diagnostics"]["cpu_probe"] == 2.0


# --- plan_audit detector 4: repeated corpus tokenization ----------------------


_PLAN_TWO_TOKENIZE = """== Physical Plan ==
Join (30)
+- AdaptiveSparkPlan (29)
   +- == Final Plan ==
      HashAggregate (5)
      +- Generate (3)
         +- Scan parquet  (1)
      HashAggregate (6)
      +- Generate (4)
         +- Scan parquet  (2)
      Scan parquet  (7)
   +- == Initial Plan ==
      Generate (25)
      +- Scan parquet  (1)
      Generate (26)
      +- Scan parquet  (2)

(1) Scan parquet
Output [1]: [text#1]
Location: InMemoryFileIndex [file:/data/documents.parquet]

(2) Scan parquet
Output [1]: [text#15]
Location: InMemoryFileIndex [file:/data/documents.parquet]

(3) Generate [codegen id : 1]
Arguments: explode(split(regexp_replace(lower(trim(text#1, None)), \\s+,  , 1),  , -1)), false, [w#6]

(4) Generate [codegen id : 2]
Arguments: explode(split(regexp_replace(lower(trim(text#15, None)), \\s+,  , 1),  , -1)), false, [w#19]

(7) Scan parquet
Output [2]: [doc_id#40L, lang#41]
Location: InMemoryFileIndex [file:/data/documents.parquet]
"""


def test_doc_tokenize_scans_counts_compiled_tokenizes_only():
    """Detector-4 parsing contract over the formatted plan: two
    documents scans whose output attributes feed a regexp_replace count
    as two tokenize compiles; the third documents scan (a plain id/lang
    read, no tokenize on ITS attributes) does NOT count; the Initial
    Plan section (which repeats every node) is excluded."""
    pa = _load("plan_audit")
    assert pa._doc_tokenize_scans(_PLAN_TWO_TOKENIZE) == 2
    # no tokenize markers anywhere -> 0 without parsing
    assert pa._doc_tokenize_scans("Scan parquet (1)\nLocation: documents") == 0
    # flag thresholds + allowlist
    assert pa._tokenize_flag("q", 1) is None
    bad = pa._tokenize_flag("q", 2)
    assert bad is not None and not bad.get("triaged")
    tri = pa._tokenize_flag("minhash_lsh_pairs", 2)
    assert tri is not None and tri["triaged"] and "verify" in tri["reason"]
    # every allowlist entry carries an inline reason
    assert all(isinstance(v, str) and v for v in pa.TRIAGED_TOKENIZE.values())
    # detector 5: executed Arrow/Python kernels per execution
    ex = {
        "nodes": [
            {"nodeName": "ArrowEvalPython"},
            {"nodeName": "Scan parquet "},
            {"nodeName": "MapInPandas"},
        ]
    }
    assert pa._arrow_kernels(ex) == 2
    assert pa._arrow_flag("q", 1) is None
    bad5 = pa._arrow_flag("q", 2)
    assert bad5 is not None and not bad5.get("triaged")
    tri5 = pa._arrow_flag("ann_ivf_topk", 2)
    assert tri5 is not None and tri5["triaged"] and "different inputs" in tri5["reason"]
    assert all(isinstance(v, str) and v for v in pa.TRIAGED_ARROW.values())


def test_fixed_queries_tokenize_corpus_once(spark):
    """The round-12 fix class, pinned at the EXECUTED-plan level via the
    /sql REST endpoint: corpus_datacard (5.95x flagged, 3 compiles),
    doc_tfidf_top_terms (3) and importance_weighted_docs (3) now compile
    the corpus tokenize at most once per execution; a deliberately
    redundant two-consumer tokenize still reads 2 (the detector is not
    blind)."""
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.queries import all_queries

    pa = _load("plan_audit")
    if not spark.sparkContext.uiWebUrl:
        pytest.skip("Spark UI disabled in this session")
    # ExecCursor, not raw offsets: in the long-lived test session the UI's
    # retainedExecutions cap evicts old entries and the list shifts left —
    # a remembered offset misses every new execution (the failure the
    # full-suite run exposed; the cursor detects the shift when its last
    # delivered row moves and falls back to filter-by-id)
    cursor = pa.ExecCursor(spark)

    def max_tok(run):
        cursor.new_executions()  # drain anything pending
        run()
        return max(
            (
                pa._doc_tokenize_scans(e.get("planDescription", ""))
                for e in cursor.new_executions()
            ),
            default=0,
        )

    qs = all_queries()
    sf = "/root/testdata/sf0.001"
    for name in (
        "corpus_datacard",
        "doc_tfidf_top_terms",
        "importance_weighted_docs",
    ):
        got = max_tok(
            lambda: qs[name]
            .fn(spark, sf)
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        assert got <= 1, f"{name}: {got} tokenize compiles"

    # positive control: an uncut double-consumer tokenize reads 2
    from data_pipelines_cu_spark.operators.dedup import normalized_text

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    words = docs.select(
        F.explode(F.split(normalized_text("text"), " ")).alias("w")
    )
    redundant = words.agg(F.count(F.lit(1)).alias("n")).crossJoin(
        words.agg(F.count_distinct("w").alias("m"))
    )
    got = max_tok(
        lambda: redundant.write.format("noop").mode("overwrite").save()
    )
    assert got == 2, f"positive control read {got}"


# --- single-action foreachBatch migration -------------------------------------


def test_partition_lander_batches_are_single_action(spark, tmp_path):
    """The 5 dynamic-overwrite partition landers write unconditionally:
    isEmpty (patched to explode) is never consulted, a nonempty batch
    lands its batch_id partition, an empty batch lands no partitions."""
    from unittest import mock

    from pyspark.sql import DataFrame

    from data_pipelines_cu_spark.streaming import jobs as J

    ev = spark.createDataFrame(
        [(1, "a", 10.0, "2024-01-01 10:00:00")],
        "event_id long, event_type string, value double, ts_s string",
    ).selectExpr("event_id", "event_type", "value", "CAST(ts_s AS TIMESTAMP) ts")
    empty = ev.filter("event_id < 0")
    docs = spark.createDataFrame(
        [(1, 100)], "doc_id long, n_chars long"
    )

    cases = [
        (
            "hist",
            lambda b, i: J.hist_sketch_batch(
                b.selectExpr("event_type", "value"),
                i,
                str(tmp_path / "hist"),
                0.0,
                100.0,
            ),
            ev,
            empty,
        ),
        (
            "kmv",
            lambda b, i: J.kmv_sketch_batch(
                b, i, str(tmp_path / "kmv"), ["event_type"], "event_id"
            ),
            ev,
            empty,
        ),
        (
            "daily",
            lambda b, i: J.daily_count_batch(b, i, str(tmp_path / "daily")),
            ev,
            empty,
        ),
        (
            "pri",
            lambda b, i: J.priority_sample_batch(
                b, i, str(tmp_path / "pri"), "n_chars", "doc_id", k=5
            ),
            docs,
            docs.filter("doc_id < 0"),
        ),
    ]
    with mock.patch.object(
        DataFrame,
        "isEmpty",
        side_effect=AssertionError("second action per micro-batch"),
    ):
        for name, fn, nonempty, emp in cases:
            fn(nonempty, 0)
            fn(emp, 1)
    for sink in ("hist", "kmv", "daily", "pri"):
        landed = [
            d
            for d in os.listdir(tmp_path / sink)
            if d.startswith("batch_id=")
        ]
        assert landed == ["batch_id=0"], (sink, landed)

    # PSI needs frozen edges on disk first
    from data_pipelines_cu_spark.operators.aggregates import (
        psi_reference_edges,
    )

    edges_path = str(tmp_path / "edges")
    psi_reference_edges(ev, "value", n_bins=4).write.parquet(edges_path)
    with mock.patch.object(
        DataFrame,
        "isEmpty",
        side_effect=AssertionError("second action per micro-batch"),
    ):
        J.psi_counts_batch(ev, 0, str(tmp_path / "psi"), edges_path, "value", 4)
        J.psi_counts_batch(
            empty, 1, str(tmp_path / "psi"), edges_path, "value", 4
        )
    landed = [
        d for d in os.listdir(tmp_path / "psi") if d.startswith("batch_id=")
    ]
    assert landed == ["batch_id=0"]


def test_near_dup_batch_no_isempty_probe_and_empty_batch_noop(spark, tmp_path):
    """near_dup_batch persists the batch once and never probes isEmpty;
    an empty micro-batch flows through as empty frames and lands no
    survivor rows; a real batch still lands its partition."""
    from unittest import mock

    from pyspark.sql import DataFrame

    from data_pipelines_cu_spark.streaming.jobs import near_dup_batch

    surv = str(tmp_path / "surv")
    idx = str(tmp_path / "idx")
    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat and then sat again"),
         (2, "a completely different document about rivers")],
        "doc_id long, text string",
    )
    orig_ckpt = DataFrame.localCheckpoint
    with mock.patch.object(
        DataFrame,
        "isEmpty",
        side_effect=AssertionError("isEmpty probe re-executes the plan"),
    ):
        near_dup_batch(docs, 0, surv, idx)
        near_dup_batch(docs.filter("doc_id < 0"), 1, surv, idx)
    assert orig_ckpt is DataFrame.localCheckpoint
    landed = spark.read.parquet(surv)
    assert landed.filter("batch_id = 0").count() == 2
    assert landed.filter("batch_id = 1").count() == 0


def test_versioned_commit_empty_batch_mints_no_version(spark, tmp_path):
    """The versioned-table stream keeps its SEMANTIC empty-skip (an
    empty micro-batch must not create a table version) — but the probe
    runs on a persisted frame. Drive the real stream: two files, one of
    which yields zero rows after the source filter, and assert exactly
    the nonempty batches became versions."""
    from data_pipelines_cu_spark.operators.table import read_table
    from data_pipelines_cu_spark.streaming.jobs import run_to_versioned_table

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.json").write_text('{"event_id": 1, "value": 5.0}\n')
    (src / "b.json").write_text('{"event_id": -1, "value": 3.0}\n')
    os.utime(src / "a.json", (1_700_000_000, 1_700_000_000))
    os.utime(src / "b.json", (1_700_000_060, 1_700_000_060))
    stream = (
        spark.readStream.schema("event_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .filter("event_id > 0")
    )
    q = run_to_versioned_table(
        stream, str(tmp_path / "table"), str(tmp_path / "ck")
    )
    assert q.awaitTermination(120)
    table = read_table(spark, str(tmp_path / "table"))
    assert [tuple(r) for r in table.collect()] == [(1, 5.0)]
    manifest = json.loads(
        (tmp_path / "table" / "_manifest.json").read_text()
    )
    assert manifest["version"] == 1  # one version, not one per batch


# --- IVF lifecycle: wave-base pin + degenerate probes -------------------------


def _embeddings(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def _stream_vectors(spark, src_dir, rows, start_mtime=1_700_000_000):
    src_dir.mkdir(exist_ok=True)
    existing = len(list(src_dir.glob("part-*.json")))
    with open(src_dir / f"part-{existing}.json", "w") as f:
        for vid, vec in rows:
            f.write(json.dumps({"vec_id": vid, "embedding": vec}) + "\n")
    os.utime(
        src_dir / f"part-{existing}.json",
        (start_mtime + existing * 60, start_mtime + existing * 60),
    )
    return (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .json(str(src_dir))
    )


def test_streaming_ivf_fresh_checkpoint_does_not_clobber_waves(
    spark, tmp_path
):
    """THE ADVICE medium hazard, closed: restarting the ingest with a
    NEW checkpoint against a populated index restarts batch ids at 0 —
    before the wave-base pin, wave = batch_id + 1 dynamic-overwrote
    wave 1's (cell, wave) partitions and silently deleted the first
    ingest's vectors. Now the base wave is read from the index once per
    checkpoint lifetime, so the second ingest lands PAST the first and
    the index equals a clean build of everything."""
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators import similarity as sim
    from data_pipelines_cu_spark.streaming.jobs import (
        run_streaming_ivf_upsert,
    )

    em = _embeddings(spark)
    half = em.filter(F.col("vec_id") % 2 == 0)
    rest = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in em.filter(F.col("vec_id") % 2 == 1)
        .select("vec_id", "embedding")
        .collect()
    ]
    mid = len(rest) // 2
    inc_path = str(tmp_path / "ivf")
    full_path = str(tmp_path / "full")
    cents = sim.build_ivf_index(half, inc_path, n_centroids=8, lloyd_iters=2)
    sim.build_ivf_index(em, full_path, centroids=cents)

    # first ingest, checkpoint A
    s1 = _stream_vectors(spark, tmp_path / "in1", rest[:mid])
    assert run_streaming_ivf_upsert(
        s1, inc_path, cents, checkpoint=str(tmp_path / "ckA")
    ).awaitTermination(120)
    first_waves = {
        r.wave
        for r in spark.read.parquet(inc_path).select("wave").distinct().collect()
    }
    assert 1 in first_waves

    # second ingest, FRESH checkpoint B — batch ids restart at 0
    s2 = _stream_vectors(spark, tmp_path / "in2", rest[mid:])
    assert run_streaming_ivf_upsert(
        s2, inc_path, cents, checkpoint=str(tmp_path / "ckB")
    ).awaitTermination(120)

    landed = spark.read.parquet(inc_path)
    assert landed.count() == em.count(), "an earlier wave was clobbered"
    assert landed.select("vec_id").distinct().count() == em.count()
    new_waves = {
        r.wave for r in landed.select("wave").distinct().collect()
    } - first_waves - {0}
    assert new_waves and min(new_waves) > max(first_waves)

    def topk(path):
        queries = em.filter(F.col("vec_id") < 3)
        return sorted(
            tuple(r)
            for r in sim.query_ivf_index(
                spark, path, cents, queries, k=5, n_probe=2
            ).collect()
        )

    assert topk(inc_path) == topk(full_path)


def test_streaming_ivf_kill_restart_same_checkpoint_is_idempotent(
    spark, tmp_path
):
    """Kill-and-restart across a wave boundary with the SAME checkpoint:
    the first run ingests file 1; more data arrives; the restarted run
    (same checkpoint, so batch ids continue and base_wave is re-read
    from the sidecar, NOT recomputed from the now-larger index) ingests
    the rest. No wave collides and the result equals the full build."""
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators import similarity as sim
    from data_pipelines_cu_spark.streaming.jobs import (
        run_streaming_ivf_upsert,
    )

    em = _embeddings(spark)
    half = em.filter(F.col("vec_id") % 2 == 0)
    rest = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in em.filter(F.col("vec_id") % 2 == 1)
        .select("vec_id", "embedding")
        .collect()
    ]
    mid = len(rest) // 2
    inc_path = str(tmp_path / "ivf")
    cents = sim.build_ivf_index(half, inc_path, n_centroids=8, lloyd_iters=2)
    ck = str(tmp_path / "ck")
    src = tmp_path / "in"

    s1 = _stream_vectors(spark, src, rest[:mid])
    assert run_streaming_ivf_upsert(
        s1, inc_path, cents, checkpoint=ck
    ).awaitTermination(120)

    # "kill": the query ended; new data lands; restart on SAME checkpoint
    s2 = _stream_vectors(spark, src, rest[mid:])
    assert run_streaming_ivf_upsert(
        s2, inc_path, cents, checkpoint=ck
    ).awaitTermination(120)

    sidecar = json.loads((Path(ck) / "ivf_wave_base.json").read_text())
    assert sidecar["base_wave"] == 0  # pinned at first start, never moved
    landed = spark.read.parquet(inc_path)
    assert landed.select("vec_id").distinct().count() == em.count()
    assert landed.count() == em.count()


def test_streaming_ivf_rejects_legacy_cell_only_index(spark, tmp_path):
    """A pre-round-11 index (partitioned by cell only) cannot take wave
    upserts — mixed partition layouts in one path are unreadable — and
    the ingest refuses loudly instead of corrupting the directory."""
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators.similarity import ivf_assign_arrow
    from data_pipelines_cu_spark.streaming.jobs import (
        run_streaming_ivf_upsert,
    )

    em = _embeddings(spark)
    cents = [
        (r["vec_id"] % 4, [float(x) for x in r["embedding"]])
        for r in em.filter(F.col("vec_id") < 4).collect()
    ]
    legacy = str(tmp_path / "legacy")
    ivf_assign_arrow(
        em.select("vec_id", "embedding"), sorted(cents)
    ).write.partitionBy("cell").parquet(legacy)

    s = _stream_vectors(
        spark,
        tmp_path / "in",
        [(999, [0.0] * len(cents[0][1]))],
    )
    with pytest.raises(ValueError, match="wave partition level"):
        run_streaming_ivf_upsert(
            s, legacy, cents, checkpoint=str(tmp_path / "ck")
        )


def test_legacy_cell_only_index_report_and_compact_migrate(spark, tmp_path):
    """ivf_index_report on a legacy index reads as all wave 0 instead of
    failing on an unresolved column; compact_ivf_index migrates it to
    the (cell, wave) layout, after which wave upserts work."""
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators import similarity as sim

    em = _embeddings(spark)
    cents_src = sorted(
        (int(r["vec_id"]) % 4, [float(x) for x in r["embedding"]])
        for r in em.filter(F.col("vec_id") < 4).collect()
    )
    legacy = str(tmp_path / "legacy")
    sim.ivf_assign_arrow(
        em.select("vec_id", "embedding"), cents_src
    ).write.partitionBy("cell").parquet(legacy)

    rep = sim.ivf_index_report(spark, legacy)
    rows = rep.collect()
    assert sum(r.n_rows for r in rows) == em.count()
    assert all(r.latest_wave == 0 and r.n_waves == 1 for r in rows)

    sim.compact_ivf_index(spark, legacy, cents_src)
    migrated = spark.read.parquet(legacy)
    assert "wave" in migrated.columns
    assert migrated.select("vec_id").distinct().count() == em.count()


def test_compact_wave0_only_index_is_identity(spark, tmp_path):
    """Degenerate compaction input: an index that is ONLY the build
    (wave 0, nothing to collapse) compacts to exactly itself — same
    (id, cell) assignment, still queryable."""
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators import similarity as sim

    em = _embeddings(spark)
    path = str(tmp_path / "ivf")
    cents = sim.build_ivf_index(em, path, n_centroids=8, lloyd_iters=2)
    before = sorted(
        (r.vec_id, r.cell) for r in spark.read.parquet(path).collect()
    )
    sim.compact_ivf_index(spark, path, cents)
    after_df = spark.read.parquet(path)
    after = sorted((r.vec_id, r.cell) for r in after_df.collect())
    assert before == after
    assert {r.wave for r in after_df.select("wave").distinct().collect()} == {0}


def test_compact_empty_index_path_raises_descriptively(spark, tmp_path):
    """Compacting a path that never existed is a caller error and fails
    with Spark's PATH_NOT_FOUND analysis error — loudly, not by minting
    an empty index."""
    from pyspark.errors import AnalysisException

    from data_pipelines_cu_spark.operators import similarity as sim

    with pytest.raises(AnalysisException):
        sim.compact_ivf_index(spark, str(tmp_path / "nope"), [(0, [0.0, 0.0])])


def test_replayed_wave_after_compaction_resurrects_stale_vector(
    spark, tmp_path
):
    """CHARACTERIZATION of the documented compaction/replay race
    (compact_ivf_index docstring): a wave replayed AFTER a compaction
    re-lands its original wave number, which outranks the compacted
    wave-0 rows — if a later wave had updated one of its ids, the
    replay resurrects the stale vector as the keep-last winner. This is
    why compaction must quiesce the ingest INCLUDING its replay window
    (stop stream → compact → restart with a FRESH checkpoint, which
    re-pins the wave base from the compacted index)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from data_pipelines_cu_spark.operators import similarity as sim

    cents = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])]
    base = spark.createDataFrame(
        [(10, [1.0, 0.1, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    v1 = spark.createDataFrame(
        [(20, [0.9, 0.2, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    v2 = spark.createDataFrame(
        [(20, [0.0, 0.9, 0.3, 0.0])], "vec_id long, embedding array<float>"
    )
    path = str(tmp_path / "ivf")
    sim.build_ivf_index(base, path, centroids=cents)
    sim.upsert_ivf_index(v1, path, cents, wave=1)  # first ingest of id 20
    sim.upsert_ivf_index(v2, path, cents, wave=2)  # the update
    sim.compact_ivf_index(spark, path, cents)

    def kept_vector():
        w = Window.partitionBy("vec_id").orderBy(F.col("wave").desc())
        rows = (
            spark.read.parquet(path)
            .filter(F.col("vec_id") == 20)
            .withColumn("_rn", F.row_number().over(w))
            .filter("_rn = 1")
            .select("embedding")
            .collect()
        )
        return [round(float(x), 3) for x in rows[0][0]]

    assert kept_vector() == [0.0, 0.9, 0.3, 0.0]  # compaction kept v2

    # the race: wave 1 replays after the compaction (old checkpoint
    # resumed) — its wave number outranks the compacted wave-0 rows
    sim.upsert_ivf_index(v1, path, cents, wave=1)
    assert kept_vector() == [0.9, 0.2, 0.0, 0.0], (
        "expected the characterized corruption: the replayed stale wave "
        "outranks the compacted rows"
    )
    # and a further compaction CEMENTS the stale winner — the data loss
    # is permanent, which is why the ingest must be quiesced, not raced
    sim.compact_ivf_index(spark, path, cents)
    assert kept_vector() == [0.9, 0.2, 0.0, 0.0]


def test_streaming_ann_query_matches_batch(spark, tmp_path):
    """The READ side of the index lifecycle: query vectors streamed in
    two micro-batches against a persisted IVF index land per-batch top-k
    partitions whose union equals the one-shot batch query over the same
    query set — exactly (per-query top-k is independent across queries,
    so micro-batch boundaries cannot change any row). An empty batch
    lands nothing."""
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators import similarity as sim
    from data_pipelines_cu_spark.streaming.jobs import run_streaming_ann_query

    em = _embeddings(spark)
    idx_path = str(tmp_path / "ivf")
    cents = sim.build_ivf_index(em, idx_path, n_centroids=8, lloyd_iters=2)

    qrows = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in em.filter(F.col("vec_id") < 6)
        .select("vec_id", "embedding")
        .collect()
    ]
    src = tmp_path / "qin"
    _stream_vectors(spark, src, qrows[:3])
    stream = _stream_vectors(spark, src, qrows[3:]).withColumnRenamed(
        "vec_id", "query_id"
    )
    res_path = str(tmp_path / "res")
    q = run_streaming_ann_query(
        stream,
        idx_path,
        cents,
        res_path,
        checkpoint=str(tmp_path / "ck"),
        k=5,
        n_probe=2,
    )
    assert q.awaitTermination(120), "streaming ANN query timed out"

    streamed = spark.read.parquet(res_path)
    assert streamed.select("batch_id").distinct().count() == 2
    got = sorted(
        (r.query_id, r.neighbor_id, r.cos_sim, r.rank)
        for r in streamed.collect()
    )
    batch_q = spark.createDataFrame(
        qrows, "vec_id long, embedding array<float>"
    )
    want = sorted(
        tuple(r)
        for r in sim.query_ivf_index(
            spark, idx_path, cents, batch_q, k=5, n_probe=2
        ).collect()
    )
    assert got == want and len(got) > 0


# --- round-11 surface degenerate probes ---------------------------------------


def test_bpe_load_merges_nonexistent_version_raises(spark, tmp_path):
    """Time travel to a version that was never committed fails with the
    versioned table's descriptive error, and an artifact path with no
    commits at all raises FileNotFoundError — no silent empty merges."""
    from pyspark.sql import functions as F  # noqa: F401

    from data_pipelines_cu_spark.operators import text as tx

    path = str(tmp_path / "merges")
    with pytest.raises(FileNotFoundError, match="no committed version"):
        tx.bpe_load_merges(spark, path)
    docs = spark.createDataFrame(
        [(1, "aa ab aa ab aa")], "doc_id long, text string"
    )
    v = tx.bpe_save_merges(tx.bpe_merges(docs, n_merges=2), path)
    assert v == 1
    assert tx.bpe_load_merges(spark, path, version=1).count() > 0
    with pytest.raises(ValueError, match="never committed"):
        tx.bpe_load_merges(spark, path, version=7)


def test_tv_drift_from_batches_zero_landed(spark, tmp_path):
    """The TV-drift monitor's empty contract, both legitimate shapes:
    (a) the monitor never ran — no path; (b) every micro-batch was empty
    — directory exists with no data files. Both return an EMPTY drift
    table with the declared schema; any other read failure still
    raises."""
    from data_pipelines_cu_spark.streaming.jobs import tv_drift_from_batches

    # (a) no path
    out = tv_drift_from_batches(spark, str(tmp_path / "never"))
    assert out.count() == 0
    assert out.columns == ["source", "n_tokens", "tv_vs_corpus"]

    # (b) directory with no files (what an all-empty-batch monitor lands)
    emptied = tmp_path / "empty"
    emptied.mkdir()
    (emptied / "_SUCCESS").write_text("")
    out = tv_drift_from_batches(spark, str(emptied))
    assert out.count() == 0
    assert out.columns == ["source", "n_tokens", "tv_vs_corpus"]
