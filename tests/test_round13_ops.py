"""Round-13 surfaces: flag-time bench forensics (executed-plan census +
max task ms attached to every regression flag — round-12 verdict item 2),
the /sql execution cursor (ExecCursor), the batch-path legacy
IVF layout guard (ADVICE medium), the atomic wave-base sidecar (ADVICE),
and degenerate/recovery probes for the round-12 serving surfaces
(streaming ANN query vs missing/legacy index and across kill-restart,
corrupt sidecar, gate re-entry on a dirty index dir)."""

from __future__ import annotations

import importlib.util
import json
import os
import sys
from pathlib import Path

import pytest

from tests.test_plan_audit import _cursor_with, _FakeSql

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


def _load(name: str):
    spec = importlib.util.spec_from_file_location(name, REPO / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# --- flag-time forensics -------------------------------------------------------

_CANNED_PLAN = """\
AdaptiveSparkPlan (9)
+- == Final Plan ==
   HashAggregate (8)
   +- Exchange (7)
      +- BroadcastHashJoin Inner BuildRight (6)
         :- Scan parquet  (1)
         +- BroadcastExchange (5)
            +- SortMergeJoin Inner (4)
               :- Scan parquet  (2)
               +- Scan parquet  (1)
+- == Initial Plan ==
   HashAggregate (18)
   +- Exchange (17)
      +- Exchange (16)
         +- Scan parquet  (1)
         +- Scan parquet  (2)

(1) Scan parquet
Output [2]: [o_orderkey#1L, o_totalprice#2]
Location: InMemoryFileIndex [file:/data/sf0.1/orders.parquet]

(2) Scan parquet
Output [1]: [c_custkey#9L]
Location: InMemoryFileIndex [file:/data/sf0.1/customer.parquet]
"""


def test_exec_plan_census_counts_final_plan_only():
    """The census reads the FINAL executed plan: per-relation scan counts
    from the footer's Location mapping (node (1) appears twice in the
    tree), exchange and join-strategy counts — and the Initial Plan
    section (which repeats every node) is excluded entirely."""
    pa = _load("plan_audit")
    census = pa.exec_plan_census(_CANNED_PLAN)
    assert census["scans"] == {"orders.parquet": 2, "customer.parquet": 1}
    assert census["n_scans"] == 3
    # Exchange (7) + BroadcastExchange (5); the Initial Plan's 16/17 excluded
    assert census["n_exchanges"] == 2
    assert census["broadcast_hash_joins"] == 1
    assert census["sort_merge_joins"] == 1
    assert census["shuffled_hash_joins"] == 0


def test_capture_forensics_live_query(spark):
    """End-to-end on the live /sql REST endpoint: one star-join execution
    yields a census over its real relations plus a max task duration —
    the evidence package every bench flag now ships with."""
    pa = _load("plan_audit")
    if not spark.sparkContext.uiWebUrl:
        pytest.skip("Spark UI disabled in this session")
    from data_pipelines_cu_spark.queries import all_queries

    fn = all_queries()["orders_by_region"].fn
    sf = "/root/testdata/sf0.001"
    fn(spark, sf).count()  # warm so the capture run is flag-representative
    out = pa.capture_forensics(
        spark,
        lambda: fn(spark, sf).write.format("noop").mode("overwrite").save(),
    )
    assert out["n_executions"] >= 1
    plan = out["plan"]
    assert plan is not None and plan["n_scans"] >= 4  # 4-table star join
    rels = set(plan["scans"])
    assert any("orders" in r for r in rels)
    assert any("region" in r for r in rels)
    assert out["max_task_ms"] is None or out["max_task_ms"] > 0


def test_attach_forensics_decorates_flags_and_survives_stale_names(spark):
    """bench.attach_forensics mutates each flag entry in place with the
    captured evidence; a flag naming a retired/renamed query (a stale
    anchor can do this) lands an error note instead of crashing the
    bench."""
    bench = _load("bench")
    if not spark.sparkContext.uiWebUrl:
        pytest.skip("Spark UI disabled in this session")
    from data_pipelines_cu_spark.queries import all_queries

    queries = all_queries()
    flags = [
        {"query": "orders_by_region", "normalized_ratio": 9.9},
        {"query": "retired_query_name", "normalized_ratio": 5.0},
    ]
    bench.attach_forensics(spark, queries, "/root/testdata/sf0.001", flags)
    assert flags[0]["forensics"]["plan"]["n_scans"] >= 4
    assert "error" in flags[1]["forensics"]
    # empty flag list is a no-op, not a crash
    assert bench.attach_forensics(spark, queries, "x", []) == []


# --- ExecCursor: offset reads, eviction fallback ---------------------------------


def test_exec_cursor_confirmed_eviction_degrades():
    """Eviction shifts the retained window left, so the row the cursor
    delivered last is no longer at ``offset - 1``: one full listing,
    filtered by id, delivers the new tail once, and the cursor resumes
    offset reads from the shifted window."""
    pa = _load("plan_audit")
    fake = _FakeSql([{"id": 0}, {"id": 1}])
    cur = _cursor_with(pa, fake)
    fake.listing = [{"id": 3}, {"id": 4}, {"id": 5}]  # 0-2 evicted
    got = cur.new_executions()
    assert [e["id"] for e in got] == [3, 4, 5]
    assert cur.new_executions() == []
    fake.listing.append({"id": 6})
    before = fake.full_fetches
    assert [e["id"] for e in cur.new_executions()] == [6]
    assert fake.full_fetches == before  # back on the offset path


# --- IVF lifecycle guards + degenerate/recovery probes ---------------------------


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


def test_upsert_ivf_batch_path_rejects_legacy_index(spark, tmp_path):
    """THE ADVICE medium, closed: the batch write path itself now guards
    the pre-wave layout — calling upsert_ivf_index directly on a
    cell-only index raises instead of silently writing (cell, wave)
    partitions into a cell-only tree (a mixed layout no reader can
    open). A missing path stays fine (first wave creates the index)."""
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators import similarity as sim

    em = _embeddings(spark)
    legacy = str(tmp_path / "legacy")
    cents = sim.build_ivf_index(em, str(tmp_path / "tmpbuild"), n_centroids=8)
    # forge the pre-round-11 layout: cell partitions, no wave level
    sim.ivf_assign_arrow(
        em.select("vec_id", "embedding"), sorted(cents)
    ).write.partitionBy("cell").mode("overwrite").parquet(legacy)

    upd = em.limit(3).select(
        "vec_id",
        F.transform("embedding", lambda x: (x * F.lit(2.0)).cast("float")).alias(
            "embedding"
        ),
    )
    with pytest.raises(ValueError, match="no wave partition level"):
        sim.upsert_ivf_index(upd, legacy, cents, wave=1)
    # the guarded write never touched the tree: still legacy, still readable
    assert "wave" not in spark.read.parquet(legacy).columns

    # missing path: the first wave creates the index (wave-layout tree)
    fresh = str(tmp_path / "fresh")
    sim.upsert_ivf_index(upd, fresh, cents, wave=1)
    landed = spark.read.parquet(fresh)
    assert set(landed.select("wave").distinct().toPandas()["wave"]) == {1}


def test_wave_base_sidecar_atomic_write_and_corrupt_rejected(spark, tmp_path):
    """ADVICE: the sidecar publishes via tmp + os.replace (no truncated
    file can exist after a crash), and an unreadable sidecar is rejected
    loudly instead of re-pinning from the live index — a wrong re-pin IS
    the wave-clobber corruption the sidecar prevents."""
    from data_pipelines_cu_spark.operators import similarity as sim
    from data_pipelines_cu_spark.streaming.jobs import run_streaming_ivf_upsert

    em = _embeddings(spark)
    rows = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in em.limit(6).select("vec_id", "embedding").collect()
    ]
    idx = str(tmp_path / "ivf")
    cents = sim.build_ivf_index(em, idx, n_centroids=8, lloyd_iters=1)

    ck = tmp_path / "ck"
    s = _stream_vectors(spark, tmp_path / "in", rows[:3])
    assert run_streaming_ivf_upsert(
        s, idx, cents, checkpoint=str(ck)
    ).awaitTermination(120)
    assert (ck / "ivf_wave_base.json").exists()
    assert not (ck / "ivf_wave_base.json.tmp").exists()  # replaced, not left

    # corrupt sidecar (foreign damage — atomic write rules out crashes):
    # restart refuses with an actionable error rather than guessing
    (ck / "ivf_wave_base.json").write_text('{"base_wave": ')
    s2 = _stream_vectors(spark, tmp_path / "in", rows[3:])
    with pytest.raises(ValueError, match="sidecar .* is unreadable"):
        run_streaming_ivf_upsert(s2, idx, cents, checkpoint=str(ck))


def test_streaming_ann_query_missing_index_fails_fast(spark, tmp_path):
    """Serving against a nonexistent index dies at START with an
    actionable ValueError — not inside the first micro-batch as an
    opaque StreamingQueryException after a checkpoint dir was minted."""
    from data_pipelines_cu_spark.streaming.jobs import run_streaming_ann_query

    em = _embeddings(spark)
    rows = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in em.limit(2).select("vec_id", "embedding").collect()
    ]
    qs = _stream_vectors(spark, tmp_path / "q", rows)
    with pytest.raises(ValueError, match="no readable IVF index"):
        run_streaming_ann_query(
            qs,
            str(tmp_path / "nonexistent_index"),
            [(0, [1.0, 0.0])],
            str(tmp_path / "res"),
            str(tmp_path / "ck"),
        )


def test_streaming_ann_query_serves_legacy_index(spark, tmp_path):
    """A legacy cell-only index SERVES fine (reads treat it as all build
    rows; only writes are barred) — the read path stays available while
    the operator schedules the rebuild."""
    from data_pipelines_cu_spark.operators import similarity as sim
    from data_pipelines_cu_spark.streaming.jobs import run_streaming_ann_query

    em = _embeddings(spark)
    legacy = str(tmp_path / "legacy")
    cents = sim.build_ivf_index(em, str(tmp_path / "tmpbuild"), n_centroids=8)
    sim.ivf_assign_arrow(
        em.select("vec_id", "embedding"), sorted(cents)
    ).write.partitionBy("cell").mode("overwrite").parquet(legacy)

    rows = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in em.filter("vec_id < 3").select("vec_id", "embedding").collect()
    ]
    qs = _stream_vectors(spark, tmp_path / "q", rows)
    res_path = str(tmp_path / "res")
    assert run_streaming_ann_query(
        qs, legacy, cents, res_path, str(tmp_path / "ck"), k=5, n_probe=2, id_col="vec_id"
    ).awaitTermination(120)

    got = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in spark.read.parquet(res_path).collect()
    )
    want = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in sim.query_ivf_index(
            spark,
            legacy,
            cents,
            em.filter("vec_id < 3").select("vec_id", "embedding"),
            k=5,
            n_probe=2,
        ).collect()
    )
    assert got == want and len(got) > 0


def test_streaming_ann_query_kill_restart_no_duplicate_results(
    spark, tmp_path
):
    """Kill-and-restart of the serving stream on the SAME checkpoint:
    replayed batches land in their original batch_id partitions via
    dynamic overwrite, so the result set equals the one-shot batch
    answer with no duplicated (query, neighbor) rows."""
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators import similarity as sim
    from data_pipelines_cu_spark.streaming.jobs import run_streaming_ann_query

    em = _embeddings(spark)
    idx = str(tmp_path / "ivf")
    cents = sim.build_ivf_index(em, idx, n_centroids=8, lloyd_iters=1)
    rows = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in em.filter("vec_id < 6").select("vec_id", "embedding").collect()
    ]
    ck = str(tmp_path / "ck")
    res_path = str(tmp_path / "res")
    src = tmp_path / "q"

    s1 = _stream_vectors(spark, src, rows[:3])
    assert run_streaming_ann_query(
        s1, idx, cents, res_path, ck, k=3, n_probe=2, id_col="vec_id"
    ).awaitTermination(120)
    # "kill": the availableNow run ended; more queries arrive; restart
    s2 = _stream_vectors(spark, src, rows[3:])
    assert run_streaming_ann_query(
        s2, idx, cents, res_path, ck, k=3, n_probe=2, id_col="vec_id"
    ).awaitTermination(120)

    landed = spark.read.parquet(res_path)
    assert (
        landed.groupBy("query_id", "neighbor_id")
        .count()
        .filter(F.col("count") > 1)
        .count()
        == 0
    ), "a replayed batch duplicated its partition"
    want = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in sim.query_ivf_index(
            spark,
            idx,
            cents,
            em.filter("vec_id < 6").select("vec_id", "embedding"),
            k=3,
            n_probe=2,
        ).collect()
    )
    got = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"]) for r in landed.collect()
    )
    assert got == want


@pytest.mark.tier2
def test_ivf_gate_reentry_on_dirty_index_dir(spark, tmp_path, monkeypatch):
    """Gate re-entry contract: the lifecycle query's build is a STATIC
    overwrite, so a dirty deterministic temp dir — stale waves from a
    prior crashed run, even a foreign legacy layout — is replaced
    wholesale and the survivor set is identical to a clean run."""
    import tempfile

    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.queries import all_queries

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    fn = all_queries()["ivf_lifecycle_survivors"].fn
    sf = "/root/testdata/sf0.001"
    clean = sorted(tuple(r) for r in fn(spark, sf).collect())
    # dirty the deterministic dir with a foreign cell-only layout
    gate_dirs = list(Path(str(tmp_path)).glob("ivf_gate_*"))
    assert gate_dirs, "gate dir not created under the patched tempdir"
    foreign = _embeddings(spark).limit(4).withColumn("cell", F.lit(0))
    foreign.write.partitionBy("cell").mode("overwrite").parquet(
        str(gate_dirs[0])
    )
    again = sorted(tuple(r) for r in fn(spark, sf).collect())
    assert again == clean and len(again) > 0


# --- incremental-index recall audit + centroid-drift retrain trigger -------------


@pytest.mark.tier2
def test_ivf_recall_report_incremental_lifecycle(spark, tmp_path):
    """Round-12 verdict item 4 (the open quality question on the serving
    path): measure recall@k of the INCREMENTAL index — build + an upsert
    wave that MOVES vectors across cells (v -> -v flips the cosine, so
    the new copy lands in a different cell and the stale one stays
    behind) — against brute-force ground truth over the CURRENT live
    vector set. Pre-compaction, stale cross-cell copies serve as false
    positives to queries probing their old cells; compaction reconciles
    and recall must not be below the pre-compact reading, with an
    absolute floor on the compacted index."""
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators import similarity as sim

    em = (
        _embeddings(spark)
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
    )
    idx = str(tmp_path / "ivf")
    cents = sim.build_ivf_index(em, idx, n_centroids=8, lloyd_iters=2)

    # wave 1: every vec_id % 5 == 0 re-ingested NEGATED (cross-cell move)
    moved = em.filter(F.col("vec_id") % 5 == 0).select(
        "vec_id",
        F.transform("embedding", lambda x: (-x).cast("float")).alias(
            "embedding"
        ),
    )
    sim.upsert_ivf_index(moved, idx, cents, wave=1)
    # wave 2: every vec_id % 7 == 0 re-ingested DOUBLED (same-cell update,
    # exact in float; for ids in both waves the newer wave must win)
    scaled = em.filter(F.col("vec_id") % 7 == 0).select(
        "vec_id",
        F.transform("embedding", lambda x: (x * F.lit(2.0)).cast("float")).alias(
            "embedding"
        ),
    )
    sim.upsert_ivf_index(scaled, idx, cents, wave=2)

    # the CURRENT live set the index is supposed to represent
    live = (
        em.filter((F.col("vec_id") % 5 != 0) & (F.col("vec_id") % 7 != 0))
        .unionByName(moved.filter(F.col("vec_id") % 7 != 0))
        .unionByName(scaled)
    )
    queries = live.filter(F.col("vec_id") < 25)

    def mean_recall():
        rep = sim.ivf_recall_report(
            spark, idx, cents, live, queries, k=5, n_probe=2
        )
        row = rep.agg(F.avg("recall").alias("r")).first()
        # 6dp: per-query recalls are exact 6dp values, but the driver-side
        # mean is summation-order-sensitive in the last ulp
        return round(float(row["r"]), 6)

    pre = mean_recall()
    # the staleness debt is ON RECORD before compaction: upsert waves
    # present (the drift/debt signal ivf_index_report surfaces)
    report = sim.ivf_index_report(spark, idx)
    assert report.agg(F.max("latest_wave")).first()[0] == 2

    sim.compact_ivf_index(spark, idx, cents)
    post = mean_recall()
    assert report.sparkSession.read.parquet(idx).filter(
        F.col("wave") > 0
    ).count() == 0  # debt reconciled

    # ground truth for the floor: a CLEAN build of the live set under the
    # same frozen centroids — the compacted incremental index must match
    # its recall EXACTLY (it is row-identical by the compaction contract),
    # so any gap is incremental-lifecycle damage, not IVF approximation
    clean = str(tmp_path / "clean")
    sim.build_ivf_index(live, clean, centroids=cents)
    rep_clean = sim.ivf_recall_report(
        spark, clean, cents, live, queries, k=5, n_probe=2
    )
    rep_post = sim.ivf_recall_report(
        spark, idx, cents, live, queries, k=5, n_probe=2
    )
    rows_post = sorted(tuple(r) for r in rep_post.collect())
    rows_clean = sorted(tuple(r) for r in rep_clean.collect())
    assert rows_post == rows_clean  # per-query identical, not just on average
    clean_recall = float(rep_clean.agg(F.avg("recall")).first()[0])
    # compaction must never LOWER recall; absolute readings are recorded
    # in BASELINE.md round-13 (intrinsic n_probe=2-of-8 recall on this
    # corpus, NOT a lifecycle artifact — the clean-rebuild equality above
    # is the lifecycle assertion)
    assert post >= pre
    assert post >= 0.5, f"compacted-index recall {post}"
    print(f"IVF lifecycle recall: pre-compact {pre:.4f}, "
          f"post-compact {post:.4f}, clean rebuild {clean_recall:.4f}")


def _drift_fixture(spark):
    """Deterministic 8-dim corpus: cluster A along e1 (ids 0,10..18),
    cluster B along e2 (ids 1,20..28), so the build's lowest-id seeds
    (0, 1) start one centroid per cluster. The DRIFTED family (ids
    2..9, 30..51) sits on the A/B boundary (e1+e2) with two independent
    structures: a LEAN (even ids toward A, odd toward B — this alone
    decides the frozen-artifact cell, splitting the family across both
    cells) and an IDENTITY signature in dims 5-6, which are ZERO in
    both clusters and hence in both frozen centroids — orthogonal to
    the assignment, but dominant for in-family cosine ranking. A
    query's true top-k is its same-signature group, which straddles
    both cells, so n_probe=1 recall collapses toward the same-cell
    fraction until a retrain gives the family its own cell."""

    def base_vec(d, i):
        v = [0.0] * 8
        v[d] = 1.0
        v[3] = 0.02 * (i % 7)
        v[4] = 0.02 * (i % 5)
        return v

    def drift_vec(i):
        lean = 0.05 if i % 2 == 0 else -0.05
        g = (i // 2) % 5
        v = [0.0] * 8
        v[0] = 1.0 + lean
        v[1] = 1.0 - lean
        v[5] = 0.3 * g
        v[6] = 0.2 * ((i // 2) % 3)
        return v

    a = [(i, base_vec(0, i)) for i in [0, *range(10, 19)]]
    b = [(i, base_vec(1, i)) for i in [1, *range(20, 29)]]
    drifted = [(i, drift_vec(i)) for i in [*range(2, 10), *range(30, 52)]]
    schema = "vec_id long, embedding array<float>"
    return (
        spark.createDataFrame(a + b, schema),
        spark.createDataFrame(drifted[:15], schema),
        spark.createDataFrame(drifted[15:], schema),
    )


@pytest.mark.tier2
def test_centroid_drift_trigger_degrade_and_recover(spark, tmp_path):
    """Round-12 verdict item 7, the last un-automated lifecycle step:
    a drifted ingest degrades fixed-artifact recall; ivf_drift_report +
    should_rebuild_centroids DETECT it mechanically (distortion growth
    vs the build-time baseline + upsert mass); retrain_ivf_centroids
    recovers the recall. Without the trigger the operator flies blind —
    with it, the decision is a pure function of two 1-row reports."""
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators import similarity as sim

    original, wave1, wave2 = _drift_fixture(spark)
    idx = str(tmp_path / "ivf")
    cents = sim.build_ivf_index(original, idx, n_centroids=2, lloyd_iters=2)
    baseline = sim.ivf_drift_report(spark, idx, cents).first().asDict()
    assert not sim.should_rebuild_centroids(baseline, baseline)["rebuild"]

    # two drifted waves land under the frozen artifact (quiesced batch
    # twin of the streaming ingest — same write path)
    sim.upsert_ivf_index(wave1, idx, cents, wave=1)
    sim.upsert_ivf_index(wave2, idx, cents, wave=2)

    live = original.unionByName(wave1).unionByName(wave2)
    queries = wave1.filter(F.col("vec_id") < 8)

    def mean_recall(c):
        rep = sim.ivf_recall_report(
            spark, idx, c, live, queries, k=5, n_probe=1
        )
        return float(rep.agg(F.avg("recall")).first()[0])

    degraded = mean_recall(cents)
    assert degraded <= 0.75, f"drift did not degrade recall: {degraded}"

    # the trigger fires on the drifted state...
    report = sim.ivf_drift_report(spark, idx, cents).first().asDict()
    decision = sim.should_rebuild_centroids(report, baseline)
    assert decision["rebuild"], (report, baseline)
    assert any("distortion" in r for r in decision["reasons"])
    assert any("upsert_frac" in r for r in decision["reasons"])

    # ...and the gated action recovers: quiesce -> retrain -> fresh serve
    new_cents = sim.retrain_ivf_centroids(spark, idx, n_centroids=3)
    recovered = mean_recall(new_cents)
    assert recovered >= 0.9, f"retrain did not recover recall: {recovered}"
    assert recovered > degraded

    # the retrained index reads as its own healthy baseline again
    fresh = sim.ivf_drift_report(spark, idx, new_cents).first().asDict()
    assert not sim.should_rebuild_centroids(fresh, fresh)["rebuild"]
    assert fresh["upsert_frac"] == 0.0


# --- plan-string format characterization -----------------------------------------


def test_sql_rest_plan_format_markers_stable(spark):
    """Detectors 3-5 and the forensics census parse the /sql REST
    planDescription STRING — a format owned by Spark, version-coupled,
    and changeable without notice in a minor upgrade. This test pins
    every marker the parsers rely on against a live execution, so a
    format drift fails HERE with a named marker instead of silently
    blinding the whole audit layer (detectors would report 0 scans
    everywhere — indistinguishable from a clean audit):

    - an ``== Final Plan ==`` / ``== Initial Plan ==`` sectioned AQE plan
    - tree scan nodes printed as ``Scan parquet ... (N)``
    - footer blocks opened by ``(N) Scan parquet`` lines
    - footer ``Output [..]: [attr#id, ...]`` attribute lines
    - footer ``Location: ...[path]`` lines
    - ``Exchange (N)`` tree nodes
    """
    import re
    import urllib.request  # noqa: F401 — documents the REST dependency

    pa = _load("plan_audit")
    if not spark.sparkContext.uiWebUrl:
        pytest.skip("Spark UI disabled in this session")
    from data_pipelines_cu_spark.queries import all_queries

    cursor = pa.ExecCursor(spark)
    fn = all_queries()["orders_by_region"].fn
    fn(spark, "/root/testdata/sf0.001").write.format("noop").mode(
        "overwrite"
    ).save()
    descs = [
        ex.get("planDescription", "") or "" for ex in cursor.new_executions()
    ]
    desc = max(descs, key=len, default="")
    assert "== Final Plan ==" in desc, "AQE final-plan section header moved"
    assert "== Initial Plan ==" in desc, "AQE initial-plan section header moved"
    tree = desc.split("== Initial Plan ==")[0]
    assert pa._SCAN_TREE_RE.search(tree), "tree 'Scan parquet (N)' form moved"
    assert re.search(
        r"Exchange\s*\(\d+\)", tree
    ), "tree 'Exchange (N)' form moved"
    footer_ids = [
        m.group(1)
        for line in desc.splitlines()
        if (m := pa._SCAN_FOOTER_RE.match(line.rstrip()))
    ]
    assert footer_ids, "footer '(N) Scan parquet' block header moved"
    assert any(
        line.startswith("Output") and pa._ATTR_RE.search(line)
        for line in desc.splitlines()
    ), "footer 'Output [..]: [attr#id]' line moved"
    assert any(
        line.startswith("Location:") and pa._LOCATION_RE.search(line)
        for line in desc.splitlines()
    ), "footer 'Location: ...[path]' line moved"
    # the census agrees with ground truth on this known 4-relation star:
    # the end-to-end proof that the markers still COMPOSE into the right
    # answer, not just that each exists somewhere
    census = pa.exec_plan_census(desc)
    assert set(census["scans"]) >= {
        "orders.parquet",
        "customer.parquet",
        "nation.parquet",
        "region.parquet",
    }
    # the /sql node list detector 5 reads still names its node kinds
    ex_nodes = None
    fn(spark, "/root/testdata/sf0.001").write.format("noop").mode(
        "overwrite"
    ).save()
    for ex in cursor.new_executions():
        ex_nodes = [n.get("nodeName", "") for n in ex.get("nodes", [])]
    assert ex_nodes and any(
        n.startswith("Scan parquet") for n in ex_nodes
    ), "/sql nodes[].nodeName 'Scan parquet' prefix moved"


@pytest.mark.tier2
def test_streaming_drift_quiesce_retrain_lifecycle(spark, tmp_path):
    """The full operational story, end-to-end on the STREAMING paths:
    a drifted ingest stream degrades fixed-artifact recall; the drift
    trigger fires; the quiesce protocol runs (stop ingest -> retrain ->
    FRESH checkpoint + NEW artifact); ingest resumes past the rewritten
    index without clobbering it; and the serving stream answers with
    recovered recall over everything ingested before AND after the
    retrain."""
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators import similarity as sim
    from data_pipelines_cu_spark.streaming.jobs import (
        run_streaming_ann_query,
        run_streaming_ivf_upsert,
    )

    original, wave1, wave2 = _drift_fixture(spark)
    idx = str(tmp_path / "ivf")
    cents = sim.build_ivf_index(original, idx, n_centroids=2, lloyd_iters=2)
    baseline = sim.ivf_drift_report(spark, idx, cents).first().asDict()

    # drifted STREAM lands under the frozen artifact (2 micro-batches)
    rows1 = [(r["vec_id"], [float(x) for x in r["embedding"]])
             for r in wave1.collect()]
    rows2 = [(r["vec_id"], [float(x) for x in r["embedding"]])
             for r in wave2.filter(F.col("vec_id") < 46).collect()]
    post_rows = [(r["vec_id"], [float(x) for x in r["embedding"]])
                 for r in wave2.filter(F.col("vec_id") >= 46).collect()]
    src = tmp_path / "in"
    s = _stream_vectors(spark, src, rows1)
    assert run_streaming_ivf_upsert(
        s, idx, cents, checkpoint=str(tmp_path / "ckA")
    ).awaitTermination(120)
    s = _stream_vectors(spark, src, rows2)
    assert run_streaming_ivf_upsert(
        s, idx, cents, checkpoint=str(tmp_path / "ckA")
    ).awaitTermination(120)

    live = original.unionByName(wave1).unionByName(
        wave2.filter(F.col("vec_id") < 46)
    )
    queries = wave1.filter(F.col("vec_id") < 8)

    def serve_recall(c, ck, res):
        """recall via the SERVING stream (not the batch query path)."""
        q_rows = [(r["vec_id"], [float(x) for x in r["embedding"]])
                  for r in queries.collect()]
        qs = _stream_vectors(spark, tmp_path / f"q{res}", q_rows)
        assert run_streaming_ann_query(
            qs, idx, c, str(tmp_path / res), str(tmp_path / ck),
            k=5, n_probe=1, id_col="vec_id",
        ).awaitTermination(120)
        approx = (
            spark.read.parquet(str(tmp_path / res))
            .select("query_id", "neighbor_id")
        )
        truth = sim.cosine_topk(live, queries, k=5)
        graded = sim._grade_recall(truth, approx)
        return round(float(graded.agg(F.avg("recall")).first()[0]), 6)

    degraded = serve_recall(cents, "ckQ1", "res1")
    assert degraded <= 0.75, f"drifted stream did not degrade: {degraded}"

    # trigger fires; QUIESCE: the availableNow ingest has stopped
    report = sim.ivf_drift_report(spark, idx, cents).first().asDict()
    assert sim.should_rebuild_centroids(report, baseline)["rebuild"]
    new_cents = sim.retrain_ivf_centroids(spark, idx, n_centroids=3)

    # resume ingest: FRESH checkpoint re-pins base from the rewritten
    # index (max wave 0), so the post-retrain wave lands as wave 1
    s = _stream_vectors(spark, tmp_path / "in2", post_rows)
    assert run_streaming_ivf_upsert(
        s, idx, new_cents, checkpoint=str(tmp_path / "ckB")
    ).awaitTermination(120)
    live = live.unionByName(wave2.filter(F.col("vec_id") >= 46))
    landed = spark.read.parquet(idx)
    assert landed.count() == live.count(), "retrain/resume lost or duped rows"

    recovered = serve_recall(new_cents, "ckQ2", "res2")
    assert recovered > degraded
    assert recovered >= 0.9, f"retrain did not recover serving recall: {recovered}"


def test_should_rebuild_on_empty_index_report_is_false():
    """Self-review probe: an empty index yields an all-NULL drift report
    row (aggregates over zero rows); the decision function must return
    a calm no-rebuild instead of TypeError-ing on None comparisons —
    there is nothing to retrain FROM."""
    from data_pipelines_cu_spark.operators import similarity as sim

    empty_report = {
        "n_vectors": None,
        "n_occupied_cells": None,
        "occupancy_skew": None,
        "mean_distortion": None,
        "max_distortion": None,
        "upsert_frac": None,
    }
    out = sim.should_rebuild_centroids(empty_report, None)
    assert out == {"rebuild": False, "reasons": []}
    # zero-vector report (a count of 0, not NULL) takes the same path
    out = sim.should_rebuild_centroids({**empty_report, "n_vectors": 0})
    assert out == {"rebuild": False, "reasons": []}


# --- engine-wide reliable lineage cuts --------------------------------------------


def test_lineage_cut_reliable_mode_routes_to_checkpoint_dir(spark, tmp_path):
    """The ADVICE round-12 caveat as a switch, not a doc note: every
    library cut routes through operators.materialize.lineage_cut, so
    spark.graft.reliableCuts=true re-points the engine's lineage cuts
    at the SparkContext checkpoint dir (replicated, survives executor
    loss) with identical results; requesting reliable cuts without a
    checkpoint dir fails loudly instead of silently handing back the
    fragility the conf opted out of."""
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators.dedup import dedup_clusters
    from data_pipelines_cu_spark.operators.materialize import (
        RELIABLE_CUTS_CONF,
        lineage_cut,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pairs = (
        docs.filter(F.col("doc_id") < 60)
        .select(
            F.col("doc_id").alias("id_a"),
            (F.col("doc_id") + F.lit(1)).alias("id_b"),
        )
        .filter(F.col("id_a") % 3 != 2)  # chains with breaks -> real clusters
    )
    default = sorted(tuple(r) for r in dedup_clusters(pairs).collect())

    prior_dir = spark.sparkContext._jsc.sc().getCheckpointDir()
    spark.conf.set(RELIABLE_CUTS_CONF, "true")
    try:
        if not prior_dir.isDefined():
            # no checkpoint dir: the misconfiguration is loud, not a
            # silent local fallback
            with pytest.raises(ValueError, match="no checkpoint directory"):
                lineage_cut(pairs)

        ckdir = str(tmp_path / "reliable")
        spark.sparkContext.setCheckpointDir(ckdir)
        reliable = sorted(
            tuple(r) for r in dedup_clusters(pairs).collect()
        )
        assert reliable == default and len(reliable) > 0
        # the cuts really went to the checkpoint dir (replicated storage)
        ck_files = list(Path(ckdir).rglob("*"))
        assert any(f.is_file() for f in ck_files), "no reliable checkpoint written"
    finally:
        spark.conf.set(RELIABLE_CUTS_CONF, "false")
        if prior_dir.isDefined():
            spark.sparkContext.setCheckpointDir(prior_dir.get())


# --- self-review fixes (round-13 diff review pass) --------------------------------


def test_selftest_status_requires_real_capture():
    """'ok' needs >=1 execution AND a plan census — an empty capture is
    the silent breakage the selftest exists to surface and must report
    'error', not healthy."""
    bench = _load("bench")
    good = {"n_executions": 1, "plan": {"n_scans": 4}, "max_task_ms": 9.0}
    assert bench.selftest_status(good) == "ok"
    assert bench.selftest_status({"error": "boom"}) == "error"
    assert (
        bench.selftest_status(
            {"n_executions": 0, "plan": None, "max_task_ms": None}
        )
        == "error"
    )
    assert bench.selftest_status(None) == "error"


def test_occupancy_skew_detects_total_collapse(spark, tmp_path):
    """The worst drift case — every vector concentrated in ONE of k
    cells — must read skew ~= k, not 1.0 (the occupied-cells-only
    denominator bug): total collapse is exactly the pruning erosion the
    metric exists to flag."""
    from data_pipelines_cu_spark.operators import similarity as sim

    # 8 centroids along 8 axes; all data on axis 0 -> one occupied cell
    dim = 8
    cents = [(c, [1.0 if d == c else 0.0 for d in range(dim)]) for c in range(dim)]
    rows = [
        (i, [1.0 if d == 0 else 0.01 * (i % 3) if d == 3 else 0.0 for d in range(dim)])
        for i in range(40)
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx = str(tmp_path / "ivf")
    sim.build_ivf_index(corpus, idx, centroids=cents)
    report = sim.ivf_drift_report(spark, idx, cents).first().asDict()
    assert report["n_occupied_cells"] == 1
    assert report["occupancy_skew"] == 8.0
    assert sim.should_rebuild_centroids(report)["rebuild"]  # skew > 4


def test_should_rebuild_null_and_zero_baselines():
    """A NULL baseline distortion (empty index at baseline time) skips
    the growth check instead of raising TypeError; a perfectly-quantized
    0.0 baseline doesn't disable it — the floor keeps it satisfiable."""
    from data_pipelines_cu_spark.operators import similarity as sim

    current = {
        "n_vectors": 100,
        "n_occupied_cells": 4,
        "occupancy_skew": 1.2,
        "mean_distortion": 0.3,
        "max_distortion": 0.6,
        "upsert_frac": 0.1,
    }
    null_base = {**current, "mean_distortion": None, "n_vectors": None}
    out = sim.should_rebuild_centroids(current, null_base)
    assert out["rebuild"] is False  # growth check skipped, others calm

    zero_base = {**current, "mean_distortion": 0.0}
    out = sim.should_rebuild_centroids(current, zero_base)
    assert out["rebuild"] is True  # 0.3 > max(1.5*0.0, floor 0.05)
    assert any("distortion" in r for r in out["reasons"])
    # below the floor stays calm against a zero baseline
    calm = {**current, "mean_distortion": 0.01}
    assert not sim.should_rebuild_centroids(calm, zero_base)["rebuild"]


def test_sidecar_wrong_shape_json_rejected_with_guidance(spark, tmp_path):
    """Valid JSON of the wrong SHAPE ({'base_wave': null}, a list) is
    foreign damage too: the guard catches TypeError and raises the same
    actionable refusal, not a raw int()-argument traceback."""
    import json as _json

    from data_pipelines_cu_spark.operators import similarity as sim
    from data_pipelines_cu_spark.streaming.jobs import run_streaming_ivf_upsert

    em = _embeddings(spark)
    rows = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in em.limit(3).select("vec_id", "embedding").collect()
    ]
    idx = str(tmp_path / "ivf")
    cents = sim.build_ivf_index(em, idx, n_centroids=8, lloyd_iters=1)
    ck = tmp_path / "ck"
    ck.mkdir()
    for damaged in ('{"base_wave": null}', "[1, 2]"):
        (ck / "ivf_wave_base.json").write_text(damaged)
        s = _stream_vectors(spark, tmp_path / "in", rows)
        with pytest.raises(ValueError, match="sidecar .* is unreadable"):
            run_streaming_ivf_upsert(s, idx, cents, checkpoint=str(ck))


def test_lifecycle_operators_degenerate_paths(spark, tmp_path):
    """Degenerate probes for the round-13 lifecycle surfaces (the probe
    pattern that found 7 crashes in r11 and 3 in r12): NULL vectors are
    dropped at EVERY index write path per the admission rule (a None row
    used to crash the Arrow assign kernel with an opaque numpy error);
    drift/retrain on a missing or empty index raise the same actionable
    build-it-first error as the serving stream; recall report with an
    empty query set is a schema-stable empty table."""
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators import similarity as sim

    schema = "vec_id long, embedding array<float>"
    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]), (7, None)],
        schema,
    )
    idx = str(tmp_path / "ivf")
    # build with a NULL row present: dropped, not crashed
    cents = sim.build_ivf_index(corpus, idx, n_centroids=2, lloyd_iters=1)
    assert spark.read.parquet(idx).count() == 3

    # upsert wave that is ENTIRELY NULL vectors: a no-op landing, and the
    # admission rule holds (no NULL ever reaches the index)
    nulls = spark.createDataFrame([(9, None), (0, None)], schema)
    sim.upsert_ivf_index(nulls, idx, cents, wave=1)
    landed = spark.read.parquet(idx)
    assert landed.filter(F.col("embedding").isNull()).count() == 0
    assert landed.count() == 3

    # drift / retrain on missing + empty-dir indexes: actionable errors
    (tmp_path / "emptydir").mkdir()
    for bad in (str(tmp_path / "missing"), str(tmp_path / "emptydir")):
        with pytest.raises(ValueError, match="no readable IVF index"):
            sim.ivf_drift_report(spark, bad, cents).collect()
        with pytest.raises(ValueError, match="no readable IVF index"):
            sim.retrain_ivf_centroids(spark, bad, n_centroids=2)

    # recall report over an empty query set: schema-stable empty result
    rep = sim.ivf_recall_report(
        spark, idx, cents, corpus, corpus.filter("vec_id < 0")
    )
    assert rep.columns == ["query_id", "n_true", "n_hits", "recall"]
    assert rep.count() == 0


def test_exec_cursor_exactly_once_property():
    """Property (hypothesis): executions surface in id order (reads
    follow a listener-bus drain) while the retained window's oldest id
    moves forward at random. Every read delivers exactly the retained
    ids past the last one delivered: no duplicate (a double-counted plan
    inflates detector metrics) and no retained execution missed (a
    missed one blinds them). Only ids evicted before any read saw them
    are lost."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    pa = _load("plan_audit")

    @settings(max_examples=50, deadline=None)
    @given(st.data())
    def run(data):
        fake = _FakeSql([])
        hi = data.draw(st.integers(min_value=0, max_value=5))
        lo, last = 0, hi - 1
        fake.listing = [{"id": x} for x in range(lo, hi)]
        cur = _cursor_with(pa, fake)
        delivered: list[int] = []
        for _ in range(data.draw(st.integers(min_value=1, max_value=12))):
            hi += data.draw(st.integers(min_value=0, max_value=4))
            lo = data.draw(st.integers(min_value=lo, max_value=hi))
            fake.listing = [{"id": x} for x in range(lo, hi)]
            got = [e["id"] for e in cur.new_executions()]
            assert got == [x for x in range(lo, hi) if x > last], (lo, hi)
            delivered.extend(got)
            last = max([last, *got])
        assert len(delivered) == len(set(delivered)), "duplicate delivery"

    run()


def test_ivf_probe_sweep_tuning_curve(spark, tmp_path):
    """The n_probe tuning curve: recall is non-decreasing in n_probe,
    probing every cell recovers brute force exactly (recall 1.0), and
    cells_scanned exposes the I/O side of the trade. Uses the drift
    fixture's boundary family, where n_probe=1 measurably under-recalls."""
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators import similarity as sim

    original, wave1, wave2 = _drift_fixture(spark)
    corpus = original.unionByName(wave1).unionByName(wave2)
    idx = str(tmp_path / "ivf")
    cents = sim.build_ivf_index(corpus, idx, n_centroids=2, lloyd_iters=2)
    queries = wave1.filter(F.col("vec_id") < 8)

    sweep = {
        r["n_probe"]: r
        for r in sim.ivf_probe_sweep(
            spark, idx, cents, corpus, queries, k=5, probes=(1, 2)
        ).collect()
    }
    assert sweep[1]["mean_recall"] < sweep[2]["mean_recall"]
    assert sweep[2]["mean_recall"] == 1.0  # 2 probes of 2 cells = brute force
    assert sweep[1]["cells_scanned"] <= sweep[2]["cells_scanned"]
    assert all(r["n_queries"] == queries.count() for r in sweep.values())


def test_streaming_ivf_drift_monitor_parity_and_trigger(spark, tmp_path):
    """Continuous drift monitoring on the ingest stream: each monitored
    batch lands the FULL drift report + the mechanical rebuild decision
    in a replay-idempotent batch_id partition; the final row equals the
    one-shot batch ivf_drift_report on the final index, and the drifted
    stream flips the rebuild flag against the frozen build-time
    baseline."""
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators import similarity as sim
    from data_pipelines_cu_spark.streaming.jobs import run_streaming_ivf_upsert

    original, wave1, wave2 = _drift_fixture(spark)
    idx = str(tmp_path / "ivf")
    cents = sim.build_ivf_index(original, idx, n_centroids=2, lloyd_iters=2)
    baseline = sim.ivf_drift_report(spark, idx, cents).first().asDict()

    rows = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in wave1.unionByName(wave2).collect()
    ]
    mid = len(rows) // 2
    src = tmp_path / "in"
    mon = str(tmp_path / "mon")
    _stream_vectors(spark, src, rows[:mid])
    s = _stream_vectors(spark, src, rows[mid:])  # 2 files -> 2 batches
    assert run_streaming_ivf_upsert(
        s,
        idx,
        cents,
        checkpoint=str(tmp_path / "ck"),
        drift_monitor_path=mon,
        drift_baseline=baseline,
    ).awaitTermination(120)

    landed = spark.read.parquet(mon)
    assert landed.count() == 2  # one report row per batch, no duplicates
    last = landed.orderBy(F.col("batch_id").desc()).first()
    batch_now = sim.ivf_drift_report(spark, idx, cents).first()
    for f in batch_now.__fields__:
        assert last[f] == batch_now[f], f
    assert last["rebuild"] is True
    assert "upsert_frac" in last["reasons"]
    # first-batch row reflects the index AS OF that batch: fewer vectors
    first = landed.orderBy("batch_id").first()
    assert first["n_vectors"] < last["n_vectors"]


def test_sq8_persisted_index_lifecycle(spark, tmp_path):
    """The compressed serving artifact: build -> wave upsert -> query
    over a persisted SQ8 IVF index. Pins (a) the on-disk compression —
    the SQ8 index is at most half the float index's parquet bytes on the
    same vectors (~4x in the data pages; dictionary/footers dilute the
    ratio at this tiny scale); (b) asymmetric query results equal the
    float-query-vs-reconstructed-corpus answer computed in-plan (the
    codec is exact w.r.t. its own decode); (c) recall vs the exact float
    index stays high (quantization costs margin, not cells); (d) a wave
    update is visible keep-last, exactly as in the float lifecycle;
    (e) guards — wave 0 rejected, float tree rejected."""
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators import similarity as sim

    em = (
        _embeddings(spark)
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
    )
    fidx, qidx = str(tmp_path / "float"), str(tmp_path / "sq8")
    cents = sim.build_ivf_index(em, fidx, n_centroids=8, lloyd_iters=2)
    cents_q, bounds = sim.build_sq8_ivf_index(em, qidx, centroids=cents)
    assert cents_q == cents

    def tree_bytes(p):
        return sum(
            f.stat().st_size for f in Path(p).rglob("*.parquet") if f.is_file()
        )

    assert tree_bytes(qidx) <= 0.5 * tree_bytes(fidx), (
        tree_bytes(qidx),
        tree_bytes(fidx),
    )

    queries = em.filter(F.col("vec_id") < 5)
    got = sorted(
        tuple(r)
        for r in sim.query_ivf_index(
            spark, qidx, cents, queries, k=5, n_probe=2, bounds=bounds,
        ).collect()
    )
    # in-plan oracle: float queries vs reconstructed corpus, same probes
    mn = F.array(*[F.lit(v) for v in bounds[0]])
    mx = F.array(*[F.lit(v) for v in bounds[1]])
    recon = em.select(
        "vec_id", sim.sq8_reconstruct(F.col("embedding"), mn, mx).alias("rv")
    )
    probes = sim.ivf_assign_arrow(
        queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")),
        sorted(cents),
        vec_col="qv",
        n_best=2,
    )
    cells = {r["cell"] for r in probes.select("cell").distinct().collect()}
    corpus_cells = sim.ivf_assign_arrow(em.select("vec_id", "embedding"), sorted(cents))
    in_cells = corpus_cells.filter(F.col("cell").isin(sorted(cells))).select("vec_id", "cell")
    want_scored = (
        F.broadcast(probes)
        .join(in_cells.join(recon, "vec_id"), "cell")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(sim.cosine(F.col("qv"), F.col("rv")), 6).alias("cos_sim"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    from data_pipelines_cu_spark.operators.windows import topk_per_group

    want = sorted(
        tuple(r)
        for r in topk_per_group(
            want_scored,
            ["query_id"],
            [F.col("cos_sim").desc(), F.col("neighbor_id").asc()],
            k=5,
            rank_col="rank",
        )
        .select("query_id", "neighbor_id", "cos_sim", "rank")
        .collect()
    )
    assert got == want and len(got) > 0

    # recall vs the exact float index: quantization costs margin only
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.query_ivf_index(
            spark, fidx, cents, queries, k=5, n_probe=2
        ).collect()
    }
    approx = {(q, n) for q, n, _, _ in got}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, recall

    # wave update visible keep-last (doubled vector -> doubled norm order)
    upd = em.filter(F.col("vec_id") == 0).select(
        "vec_id",
        F.transform("embedding", lambda x: (x * F.lit(0.0)).cast("float")).alias(
            "embedding"
        ),
    )
    sim.upsert_ivf_index(upd, qidx, cents, wave=1, bounds=bounds)
    landed = spark.read.parquet(qidx)
    assert landed.filter("vec_id = 0").count() >= 2  # both waves on disk
    # the zeroed vector has no cosine: id 0 drops out of every top-k
    post = sim.query_ivf_index(
        spark, qidx, cents, queries, k=5, n_probe=2, bounds=bounds,
    )
    assert post.filter("neighbor_id = 0").count() == 0

    # guards
    with pytest.raises(ValueError, match="wave must be >= 1"):
        sim.upsert_ivf_index(upd, qidx, cents, wave=0, bounds=bounds)
    with pytest.raises(ValueError, match="not an SQ8 wave index"):
        sim.upsert_ivf_index(upd, fidx, cents, wave=1, bounds=bounds)


@pytest.mark.tier2
def test_pq_persisted_index_lifecycle(spark, tmp_path):
    """The deepest compression tier of the serving family: build -> wave
    upsert -> query over a persisted PQ index (m one-byte codes per
    vector). Pins the on-disk compression vs the float index, result
    equality with an in-plan reconstruction oracle, keep-last wave
    semantics, recall sanity vs the float index, and the layout guards."""
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators import similarity as sim
    from data_pipelines_cu_spark.operators.windows import topk_per_group

    em = (
        _embeddings(spark)
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
    )
    fidx, pidx = str(tmp_path / "float"), str(tmp_path / "pq")
    cents = sim.build_ivf_index(em, fidx, n_centroids=8, lloyd_iters=2)
    cents_p, codebooks = sim.build_pq_ivf_index(em, pidx, centroids=cents)
    assert cents_p == cents
    assert len(codebooks) == sim.PQ_M * sim.PQ_K

    def tree_bytes(p):
        return sum(
            f.stat().st_size for f in Path(p).rglob("*.parquet") if f.is_file()
        )

    # m=4 codes vs 64 floats: even with footer overhead the PQ tree must
    # be well under half the float tree
    assert tree_bytes(pidx) <= 0.5 * tree_bytes(fidx)

    queries = em.filter(F.col("vec_id") < 5)
    got = sorted(
        tuple(r)
        for r in sim.query_ivf_index(
            spark, pidx, cents, queries, k=5, n_probe=2, codebooks=codebooks,
        ).collect()
    )
    assert len(got) > 0

    # in-plan oracle: reconstruct every corpus vector from its codes via
    # the SAME frozen codebooks, score the float queries against the
    # probed cells' reconstructions
    cent_df = sim._pq_codebook_df(spark, codebooks)
    codes = sim._pq_encode(em, cent_df, m=sim.PQ_M, dsub=16)
    recon = (
        codes.select("vec_id", F.posexplode("pq_codes").alias("j", "code"))
        .join(
            F.broadcast(cent_df.select("j", F.col("cell").alias("code"), "cv")),
            ["j", "code"],
        )
        .groupBy("vec_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("j", "cv"))),
                    lambda x: x["cv"],
                )
            ).alias("rv")
        )
    )
    probes = sim.ivf_assign_arrow(
        queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")),
        sorted(cents),
        vec_col="qv",
        n_best=2,
    )
    cells = sorted(
        {r["cell"] for r in probes.select("cell").distinct().collect()}
    )
    in_cells = (
        sim.ivf_assign_arrow(em.select("vec_id", "embedding"), sorted(cents))
        .filter(F.col("cell").isin(cells))
        .select("vec_id", "cell")
    )
    want_scored = (
        F.broadcast(probes)
        .join(in_cells.join(recon, "vec_id"), "cell")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(sim.cosine(F.col("qv"), F.col("rv")), 6).alias("cos_sim"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    want = sorted(
        tuple(r)
        for r in topk_per_group(
            want_scored,
            ["query_id"],
            [F.col("cos_sim").desc(), F.col("neighbor_id").asc()],
            k=5,
            rank_col="rank",
        )
        .select("query_id", "neighbor_id", "cos_sim", "rank")
        .collect()
    )
    assert got == want

    # recall sanity vs the exact float index. m=4/k=16 on 64-dim
    # unstructured vectors is VERY lossy by design (measured 0.24 here —
    # production PQ runs m=16+/k=256; the gate-exactness config keeps the
    # codebook oracle-trainable): the pinned contract is codec exactness
    # (got == want above) and the lifecycle; recall gets a sanity floor
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.query_ivf_index(
            spark, fidx, cents, queries, k=5, n_probe=2
        ).collect()
    }
    approx = {(q, n) for q, n, _, _ in got}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.12, recall

    # wave update visible keep-last: re-ingest id 1 as a copy of id 0's
    # vector — its codes become id 0's, so its reconstruction ties id 0's
    v0 = [float(x) for x in em.filter("vec_id = 0").first()["embedding"]]
    upd = spark.createDataFrame([(1, v0)], "vec_id long, embedding array<float>")
    sim.upsert_ivf_index(upd, pidx, cents, wave=1, codebooks=codebooks)
    post = sim.query_ivf_index(
        spark, pidx, cents, queries.filter("vec_id = 0"), k=1, n_probe=2,
        codebooks=codebooks,
    ).first()
    assert post["neighbor_id"] == 1  # identical reconstruction, id ASC tie

    # guards
    with pytest.raises(ValueError, match="wave must be >= 1"):
        sim.upsert_ivf_index(upd, pidx, cents, wave=0, codebooks=codebooks)
    with pytest.raises(ValueError, match="not a PQ wave index"):
        sim.upsert_ivf_index(upd, fidx, cents, wave=1, codebooks=codebooks)


def test_quantized_index_compaction_and_serving_dispatch(spark, tmp_path):
    """Quantized-tree compaction + codec dispatch in the serving stream:
    a cross-cell update in an SQ8 index reconciles at compaction (stale
    copy gone, codes carried through unchanged, post-compact queries
    identical to pre-compact at full probe); the serving stream detects
    the index codec from its schema and answers an SQ8 index identically
    to the batch query path; a quantized index without its artifact
    fails fast with the artifact named."""
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators import similarity as sim
    from data_pipelines_cu_spark.streaming.jobs import run_streaming_ann_query

    em = (
        _embeddings(spark)
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
    )
    qidx = str(tmp_path / "sq8")
    cents, bounds = sim.build_sq8_ivf_index(em, qidx, n_centroids=8, lloyd_iters=2)

    # cross-cell update: negate a vector; its new copy lands in a new
    # cell, the stale one stays behind until compaction
    moved = em.filter(F.col("vec_id") == 3).select(
        "vec_id",
        F.transform("embedding", lambda x: (-x).cast("float")).alias("embedding"),
    )
    sim.upsert_ivf_index(moved, qidx, cents, wave=1, bounds=bounds)
    pre = spark.read.parquet(qidx)
    assert pre.filter("vec_id = 3").count() == 2  # both copies on disk

    queries = em.filter(F.col("vec_id") < 5)
    full_probe = len(cents)
    pre_rows = sorted(
        tuple(r)
        for r in sim.query_ivf_index(
            spark, qidx, cents, queries, k=5, n_probe=full_probe,
            bounds=bounds,
        ).collect()
    )
    sim.compact_ivf_index(spark, qidx, cents, bounds=bounds)
    post = spark.read.parquet(qidx)
    assert post.filter("vec_id = 3").count() == 1  # stale copy reconciled
    assert post.filter("wave > 0").count() == 0
    post_rows = sorted(
        tuple(r)
        for r in sim.query_ivf_index(
            spark, qidx, cents, queries, k=5, n_probe=full_probe,
            bounds=bounds,
        ).collect()
    )
    # at full probe the keep-last answer is probe-layout-independent:
    # compaction must not change any result
    assert post_rows == pre_rows

    # serving stream auto-dispatches on the codes column
    rows = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in queries.collect()
    ]
    qs = _stream_vectors(spark, tmp_path / "q", rows)
    res = str(tmp_path / "res")
    assert run_streaming_ann_query(
        qs, qidx, cents, res, str(tmp_path / "ck"),
        k=5, n_probe=2, id_col="vec_id", bounds=bounds,
    ).awaitTermination(120)
    got = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in spark.read.parquet(res).collect()
    )
    want = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in sim.query_ivf_index(
            spark, qidx, cents, queries, k=5, n_probe=2, bounds=bounds,
        ).collect()
    )
    assert got == want and len(got) > 0

    # artifact missing: loud, named
    qs2 = _stream_vectors(spark, tmp_path / "q2", rows[:1])
    with pytest.raises(ValueError, match="SQ8 index .* quantization bounds"):
        run_streaming_ann_query(
            qs2, qidx, cents, str(tmp_path / "res2"), str(tmp_path / "ck2"),
            id_col="vec_id",
        )


def test_pq_index_compaction_reconciles_cross_cell(spark, tmp_path):
    """PQ-tree compaction: the CASE-chain codebook decode reassigns each
    survivor's cell from its reconstruction; codes carried through
    unchanged; stale cross-cell copy gone; full-probe queries identical
    pre/post."""
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators import similarity as sim

    em = (
        _embeddings(spark)
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
    )
    pidx = str(tmp_path / "pq")
    cents, codebooks = sim.build_pq_ivf_index(em, pidx, n_centroids=8)
    moved = em.filter(F.col("vec_id") == 3).select(
        "vec_id",
        F.transform("embedding", lambda x: (-x).cast("float")).alias("embedding"),
    )
    sim.upsert_ivf_index(moved, pidx, cents, wave=1, codebooks=codebooks)
    queries = em.filter(F.col("vec_id") < 5)
    full_probe = len(cents)
    pre_rows = sorted(
        tuple(r)
        for r in sim.query_ivf_index(
            spark, pidx, cents, queries, k=5, n_probe=full_probe,
            codebooks=codebooks,
        ).collect()
    )
    codes_pre = {
        r["vec_id"]: list(r["pq_codes"])
        for r in spark.read.parquet(pidx)
        .filter("wave = 1")
        .select("vec_id", "pq_codes")
        .collect()
    }
    sim.compact_ivf_index(spark, pidx, cents, codebooks=codebooks)
    post = spark.read.parquet(pidx)
    assert post.filter("vec_id = 3").count() == 1
    assert post.filter("wave > 0").count() == 0
    # the kept codes are the wave-1 codes, unchanged (no re-encode drift)
    kept = post.filter("vec_id = 3").first()["pq_codes"]
    assert list(kept) == codes_pre[3]
    post_rows = sorted(
        tuple(r)
        for r in sim.query_ivf_index(
            spark, pidx, cents, queries, k=5, n_probe=full_probe,
            codebooks=codebooks,
        ).collect()
    )
    assert post_rows == pre_rows


def test_pq_geometry_guards_and_duplicate_batch(spark, tmp_path):
    """The PQ geometry lives in the artifact, and the encode is
    duplicate-safe: (a) building with a non-default geometry then
    upserting works with NO m/dsub parameters (derived from the
    codebooks); (b) a wrong-dimension vector dies loudly in the plan
    instead of silently encoding truncated subvectors; (c) a batch
    carrying one id twice with different vectors lands each vector's
    OWN codes (an id-keyed encode would mix subspaces across the two
    into a chimera equal to neither)."""
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators import similarity as sim

    em = (
        _embeddings(spark)
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
    )
    # (a) non-default geometry end-to-end: m=8 subspaces of 8 dims
    pidx = str(tmp_path / "pq88")
    cents, codebooks = sim.build_pq_ivf_index(
        em, pidx, n_centroids=8, m=8, dsub=8, k=8
    )
    assert sim._pq_geometry(codebooks) == (8, 8)
    upd = em.filter(F.col("vec_id") == 7)
    sim.upsert_ivf_index(upd, pidx, cents, wave=1, codebooks=codebooks)
    got = spark.read.parquet(pidx).filter("vec_id = 7 and wave = 1").first()
    assert len(got["pq_codes"]) == 8
    res = sim.query_ivf_index(
        spark, pidx, cents, em.filter(F.col("vec_id") < 3), k=3,
        codebooks=codebooks,
    )
    assert res.count() > 0

    # (b) wrong-dim vectors: loud plan-side failure, not silent garbage
    short = em.select("vec_id", F.slice("embedding", 1, 32).alias("embedding"))
    with pytest.raises(Exception, match="PQ geometry mismatch"):
        sim.build_pq_ivf_index(short, str(tmp_path / "bad"), n_centroids=4)

    # (c) duplicate id, two different vectors in ONE wave: each keeps its
    # own codes — compare against encoding each vector alone
    v7 = em.filter(F.col("vec_id") == 7)
    neg7 = v7.select(
        "vec_id",
        F.transform("embedding", lambda x: (-x).cast("float")).alias("embedding"),
    )
    dup = v7.unionAll(neg7)
    sim.upsert_ivf_index(dup, pidx, cents, wave=2, codebooks=codebooks)
    landed = spark.read.parquet(pidx).filter("vec_id = 7 and wave = 2")
    assert landed.count() == 2
    cent_df = sim._pq_codebook_df(spark, codebooks)
    want = {
        tuple(r["pq_codes"])
        for df in (v7, neg7)
        for r in sim._pq_encode(df, cent_df, m=8, dsub=8).collect()
    }
    assert {tuple(r["pq_codes"]) for r in landed.collect()} == want


def test_quantized_compaction_refuses_corrupt_codes(spark, tmp_path):
    """Corruption surfaces, consistently: a PQ row whose code points
    outside the codebook (a wave written under a foreign/retrained
    artifact) reconstructs NULL — the query path scores it NULL cos_sim
    (never outranks a real row), and compaction ABORTS loudly instead of
    rewriting it under a fabricated cell into a valid-looking wave 0."""
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators import similarity as sim

    em = (
        _embeddings(spark)
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
    )
    pidx = str(tmp_path / "pq")
    cents, codebooks = sim.build_pq_ivf_index(em, pidx, n_centroids=8)
    # forge a corrupt wave: code 99 exists in no 16-cell codebook
    corrupt = spark.createDataFrame(
        [(9001, [99, 0, 0, 0], 0, 1)], "vec_id long, pq_codes array<int>, cell int, wave int"
    )
    corrupt.write.partitionBy("cell", "wave").mode("append").parquet(pidx)

    queries = em.filter(F.col("vec_id") < 3)
    res = sim.query_ivf_index(
        spark, pidx, cents, queries, k=5, n_probe=len(cents),
        codebooks=codebooks,
    )
    bad_hits = res.filter(F.col("neighbor_id") == 9001).collect()
    assert all(r["cos_sim"] is None for r in bad_hits)  # never a real score

    with pytest.raises(ValueError, match="failed to reconstruct"):
        sim.compact_ivf_index(spark, pidx, cents, codebooks=codebooks)
    # the corrupt row is still there — nothing was laundered
    assert spark.read.parquet(pidx).filter("vec_id = 9001").count() == 1

    # missing path: the shared _read_index contract, not a raw
    # AnalysisException
    with pytest.raises(ValueError, match="no readable IVF index"):
        sim.compact_ivf_index(
            spark, str(tmp_path / "nowhere"), cents, codebooks=codebooks,
        )


def test_streaming_ann_query_nondefault_vec_col(spark, tmp_path):
    """The serving stream renames BOTH caller columns to the query-path
    defaults: a stream whose vector column is not 'embedding' serves
    correctly instead of dying on an unresolved column inside the first
    micro-batch (after the checkpoint dir is already committed)."""
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators import similarity as sim
    from data_pipelines_cu_spark.streaming.jobs import run_streaming_ann_query

    em = (
        _embeddings(spark)
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
    )
    fidx = str(tmp_path / "float")
    cents = sim.build_ivf_index(em, fidx, n_centroids=8, lloyd_iters=2)
    queries = em.filter(F.col("vec_id") < 5)
    rows = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in queries.collect()
    ]
    qs = _stream_vectors(spark, tmp_path / "q", rows).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("vector")
    )
    res = str(tmp_path / "res")
    assert run_streaming_ann_query(
        qs, fidx, cents, res, str(tmp_path / "ck"),
        k=5, n_probe=2, id_col="qid", vec_col="vector",
    ).awaitTermination(120)
    got = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in spark.read.parquet(res).collect()
    )
    want = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in sim.query_ivf_index(
            spark, fidx, cents, queries, k=5, n_probe=2
        ).collect()
    )
    assert got == want and len(got) > 0


@pytest.mark.tier2
def test_streaming_quantized_ingest_dispatch(spark, tmp_path):
    """Write-side codec dispatch, mirroring the serving stream's read
    side: a streaming ingest against an SQ8 tree lands CODE waves
    (schema-detected, encoded under the frozen bounds) identical to the
    batch upsert path, the continuous drift monitor reports over the
    reconstruction view, and the artifact/codec mismatches fail fast
    before the stream starts."""
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators import similarity as sim
    from data_pipelines_cu_spark.streaming.jobs import run_streaming_ivf_upsert

    original, wave1, wave2 = _drift_fixture(spark)
    sidx = str(tmp_path / "sq8")
    cents, bounds = sim.build_sq8_ivf_index(
        original, sidx, n_centroids=2, lloyd_iters=2
    )
    baseline = sim.ivf_drift_report(
        spark, sidx, cents, bounds=bounds
    ).first().asDict()

    rows1 = [(r["vec_id"], [float(x) for x in r["embedding"]]) for r in wave1.collect()]
    rows2 = [(r["vec_id"], [float(x) for x in r["embedding"]]) for r in wave2.collect()]
    src = tmp_path / "src"
    stream = _stream_vectors(spark, src, rows1)
    _stream_vectors(spark, src, rows2)
    monitor = str(tmp_path / "monitor")
    assert run_streaming_ivf_upsert(
        stream, sidx, cents, str(tmp_path / "ck"),
        drift_monitor_path=monitor, drift_baseline=baseline, bounds=bounds,
    ).awaitTermination(120)

    landed = spark.read.parquet(sidx)
    assert "codes" in landed.columns and "embedding" not in landed.columns
    assert landed.filter("wave > 0").select("wave").distinct().count() == 2

    # parity with the batch write path: same codes for the same rows
    bidx = str(tmp_path / "batch")
    sim.build_sq8_ivf_index(original, bidx, centroids=cents, bounds=bounds)
    sim.upsert_ivf_index(wave1, bidx, cents, wave=1, bounds=bounds)
    sim.upsert_ivf_index(wave2, bidx, cents, wave=2, bounds=bounds)
    got = sorted(
        (r["vec_id"], r["cell"], r["wave"], tuple(r["codes"]))
        for r in landed.collect()
    )
    want = sorted(
        (r["vec_id"], r["cell"], r["wave"], tuple(r["codes"]))
        for r in spark.read.parquet(bidx).collect()
    )
    assert got == want

    # monitor rows landed with the codec-aware report + decision
    mon = spark.read.parquet(monitor)
    assert mon.count() == 2
    last = mon.orderBy(F.col("batch_id").desc()).first()
    assert last["n_vectors"] == original.count() + len(rows1) + len(rows2)
    assert last["upsert_frac"] > 0

    # guards: quantized tree without its artifact; float tree WITH one;
    # ambiguous artifacts for a new path — all before the stream starts
    qs = _stream_vectors(spark, tmp_path / "g1", rows1[:1])
    with pytest.raises(ValueError, match="SQ8 index .* quantization bounds"):
        run_streaming_ivf_upsert(qs, sidx, cents, str(tmp_path / "ckg1"))
    fidx = str(tmp_path / "float")
    sim.build_ivf_index(original, fidx, centroids=cents)
    with pytest.raises(ValueError, match="FLOAT tree but a quantization"):
        run_streaming_ivf_upsert(
            qs, fidx, cents, str(tmp_path / "ckg2"), bounds=bounds
        )
    with pytest.raises(ValueError, match="pick one codec"):
        run_streaming_ivf_upsert(
            qs, str(tmp_path / "new"), cents, str(tmp_path / "ckg3"),
            bounds=bounds, codebooks=[(0, 0, [0.0, 0.0])],
        )


@pytest.mark.tier2
def test_quantized_drift_degrade_and_recover(spark, tmp_path):
    """Codec parity of the LAST lifecycle step: the drifted-ingest
    degrade -> mechanical trigger -> retrain -> recover arc runs
    end-to-end on a QUANTIZED tree — drift report and recall report
    read the reconstruction view (what serving actually scores), and
    retrain_quantized_ivf mints fresh centroids AND fresh quantization
    artifacts from the survivor reconstructions."""
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators import similarity as sim

    original, wave1, wave2 = _drift_fixture(spark)
    idx = str(tmp_path / "sq8")
    # explicit bounds COVERING the drifted range: build-time bounds
    # learned from `original` would clamp the drift family's signature
    # dims (zero in the build corpus) to [0,0] — saturation destroys
    # that information AT INGEST, and no retrain-from-codes can recover
    # it (the documented SQ8 trade; retrain_quantized_ivf's docstring
    # pins it). This test isolates the retrain MECHANICS from it.
    wide = ([0.0] * 8, [1.6] * 8)
    cents, bounds = sim.build_sq8_ivf_index(
        original, idx, n_centroids=2, lloyd_iters=2, bounds=wide
    )
    baseline = sim.ivf_drift_report(
        spark, idx, cents, bounds=bounds
    ).first().asDict()
    assert not sim.should_rebuild_centroids(baseline, baseline)["rebuild"]

    sim.upsert_ivf_index(wave1, idx, cents, wave=1, bounds=bounds)
    sim.upsert_ivf_index(wave2, idx, cents, wave=2, bounds=bounds)

    live = original.unionByName(wave1).unionByName(wave2)
    queries = wave1.filter(F.col("vec_id") < 8)

    def mean_recall(c, b):
        rep = sim.ivf_recall_report(
            spark, idx, c, live, queries, k=5, n_probe=1, bounds=b
        )
        return float(rep.agg(F.avg("recall")).first()[0])

    degraded = mean_recall(cents, bounds)
    assert degraded <= 0.75, f"drift did not degrade recall: {degraded}"

    report = sim.ivf_drift_report(spark, idx, cents, bounds=bounds).first().asDict()
    decision = sim.should_rebuild_centroids(report, baseline)
    assert decision["rebuild"], (report, baseline)

    new_cents, new_bounds = sim.retrain_quantized_ivf(
        spark, idx, n_centroids=3, bounds=bounds
    )
    recovered = mean_recall(new_cents, new_bounds)
    assert recovered >= 0.85, f"retrain did not recover recall: {recovered}"
    assert recovered > degraded
    fresh = sim.ivf_drift_report(
        spark, idx, new_cents, bounds=new_bounds
    ).first().asDict()
    assert not sim.should_rebuild_centroids(fresh, fresh)["rebuild"]
    assert fresh["upsert_frac"] == 0.0


@pytest.mark.tier2
def test_retrain_quantized_pq_and_codec_guards(spark, tmp_path):
    """PQ leg of the quantized retrain (fresh codebooks of the SAME
    geometry, seeded from the k lowest SURVIVING ids — the builder's
    id<k rule does not hold for survivors) plus the codec guards: a
    float tree refuses the quantized retrain, and the codec-aware
    reports name the missing artifact."""
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators import similarity as sim

    original, wave1, _ = _drift_fixture(spark)
    pidx = str(tmp_path / "pq")
    cents, codebooks = sim.build_pq_ivf_index(
        original, pidx, n_centroids=2, m=4, dsub=2, k=8
    )
    sim.upsert_ivf_index(wave1, pidx, cents, wave=1, codebooks=codebooks)

    new_cents, new_codebooks = sim.retrain_quantized_ivf(
        spark, pidx, n_centroids=3, codebooks=codebooks
    )
    assert sim._pq_geometry(new_codebooks) == (4, 2)
    post = spark.read.parquet(pidx)
    assert post.filter("wave > 0").count() == 0  # fresh wave 0
    live_ids = {r[0] for r in original.select("vec_id").collect()} | {
        r[0] for r in wave1.select("vec_id").collect()
    }
    assert post.count() == len(live_ids)
    queries = original.filter(F.col("vec_id") < 2)
    res = sim.query_ivf_index(
        spark, pidx, new_cents, queries, k=3, n_probe=len(new_cents),
        codebooks=new_codebooks,
    )
    assert res.count() > 0 and res.filter("cos_sim is null").count() == 0

    fidx = str(tmp_path / "float")
    sim.build_ivf_index(original, fidx, centroids=cents)
    with pytest.raises(ValueError, match="use\\s+retrain_ivf_centroids"):
        sim.retrain_quantized_ivf(spark, fidx, codebooks=codebooks)
    with pytest.raises(ValueError, match="pass its frozen codebooks"):
        sim.ivf_drift_report(spark, pidx, new_cents)
    with pytest.raises(ValueError, match="pass its frozen codebooks"):
        sim.ivf_recall_report(
            spark, pidx, new_cents, original, queries
        )
    # recall report on the PQ tree with its artifact: quantization error
    # included, still a valid [0,1] recall
    rec = sim.ivf_recall_report(
        spark, pidx, new_cents, original.unionByName(wave1), queries,
        k=3, n_probe=len(new_cents), codebooks=new_codebooks,
    )
    vals = [r["recall"] for r in rec.collect()]
    assert vals and all(0.0 <= v <= 1.0 for v in vals)


@pytest.mark.tier2
def test_index_codec_frontier(spark, tmp_path):
    """The tier-picking report: one shared centroid artifact + one
    shared truth pass, three trees, honest bytes. Pins the frontier
    shape on the deterministic corpus: bytes strictly shrink down the
    family (pq < sq8 < float, sq8 at most half of float), recall at
    full probe is exactly 1.0 for the float tree (full probe = brute
    force) and bounded by it for every compressed tier, and the recall
    columns are valid fractions."""
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators import similarity as sim

    em = (
        _embeddings(spark)
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
    )
    queries = em.filter(F.col("vec_id") < 5)
    n_cents = 8
    rep = {
        r["codec"]: r
        for r in sim.index_codec_frontier(
            spark, em, queries, str(tmp_path / "frontier"),
            k=5, n_probe=n_cents, n_centroids=n_cents,
        ).collect()
    }
    assert set(rep) == {"float", "sq8", "pq"}
    n = em.count()
    assert all(r["n_rows"] == n for r in rep.values())
    assert rep["pq"]["bytes_on_disk"] < rep["sq8"]["bytes_on_disk"]
    assert rep["sq8"]["bytes_on_disk"] <= 0.5 * rep["float"]["bytes_on_disk"]
    assert rep["float"]["mean_recall"] == 1.0  # full probe = brute force
    for codec in ("sq8", "pq"):
        assert 0.0 <= rep[codec]["mean_recall"] <= rep["float"]["mean_recall"]
        assert 0.0 <= rep[codec]["min_recall"] <= 1.0
        assert rep[codec]["n_queries"] == 5

    with pytest.raises(ValueError, match="local-only"):
        sim.index_codec_frontier(
            spark, em, queries, "hdfs://nowhere/frontier"
        )


@pytest.mark.tier2
def test_quantized_retrain_guards(spark, tmp_path):
    """Review-pass regressions on the quantized retrain: (a) a survivor
    whose codes fail to reconstruct ABORTS the retrain loudly — the
    rebuild's drop_null_vectors would otherwise silently delete it from
    the new tree (permanent data loss, no error); (b) an empty tree
    refuses with the survivor-set named, not a raw IndexError from the
    codebook seeder; (c) a spurious second artifact against an existing
    quantized tree stops the ingest stream before it starts."""
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators import similarity as sim
    from data_pipelines_cu_spark.streaming.jobs import run_streaming_ivf_upsert

    em = (
        _embeddings(spark)
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
    )
    pidx = str(tmp_path / "pq")
    cents, codebooks = sim.build_pq_ivf_index(em, pidx, n_centroids=8)
    corrupt = spark.createDataFrame(
        [(9001, [99, 0, 0, 0], 0, 1)],
        "vec_id long, pq_codes array<int>, cell int, wave int",
    )
    corrupt.write.partitionBy("cell", "wave").mode("append").parquet(pidx)
    with pytest.raises(ValueError, match="failed to reconstruct"):
        sim.retrain_quantized_ivf(spark, pidx, codebooks=codebooks)

    empty = str(tmp_path / "empty")
    spark.createDataFrame(
        [], "vec_id long, codes array<int>, cell int, wave int"
    ).write.parquet(empty)
    bounds = ([0.0] * 4, [1.0] * 4)
    with pytest.raises(ValueError, match="no surviving vectors"):
        sim.retrain_quantized_ivf(spark, empty, bounds=bounds)

    sidx = str(tmp_path / "sq8")
    scents, sbounds = sim.build_sq8_ivf_index(em, sidx, n_centroids=8)
    rows = [(1, [0.0] * 64)]
    qs = _stream_vectors(spark, tmp_path / "src", rows)
    with pytest.raises(ValueError, match="PQ codebooks were ALSO passed"):
        run_streaming_ivf_upsert(
            qs, sidx, scents, str(tmp_path / "ck"),
            bounds=sbounds, codebooks=codebooks,
        )


def test_streaming_ann_query_serves_pq_index(spark, tmp_path):
    """PQ leg of the serving stream's codec dispatch (the SQ8 leg is
    pinned in test_quantized_index_compaction_and_serving_dispatch):
    pq_codes routes through query_ivf_index with the frozen
    codebooks, parity with the batch query path; missing codebooks
    fail fast with the artifact named."""
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators import similarity as sim
    from data_pipelines_cu_spark.streaming.jobs import run_streaming_ann_query

    em = (
        _embeddings(spark)
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
    )
    pidx = str(tmp_path / "pq")
    cents, codebooks = sim.build_pq_ivf_index(em, pidx, n_centroids=8)
    queries = em.filter(F.col("vec_id") < 5)
    rows = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in queries.collect()
    ]
    qs = _stream_vectors(spark, tmp_path / "q", rows)
    res = str(tmp_path / "res")
    assert run_streaming_ann_query(
        qs, pidx, cents, res, str(tmp_path / "ck"),
        k=5, n_probe=2, id_col="vec_id", codebooks=codebooks,
    ).awaitTermination(120)
    got = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in spark.read.parquet(res).collect()
    )
    want = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in sim.query_ivf_index(
            spark, pidx, cents, queries, k=5, n_probe=2, codebooks=codebooks,
        ).collect()
    )
    assert got == want and len(got) > 0

    qs2 = _stream_vectors(spark, tmp_path / "q2", rows[:1])
    with pytest.raises(ValueError, match="PQ index .* frozen codebooks"):
        run_streaming_ann_query(
            qs2, pidx, cents, str(tmp_path / "res2"), str(tmp_path / "ck2"),
            id_col="vec_id",
        )


@pytest.mark.tier2
def test_quantized_builders_degenerate_paths(spark, tmp_path):
    """Degenerate probes for the codec family (the probe pattern that
    found 7 crashes in r11, 3 in r12, and — this session — a guard that
    raised on NULL vectors in the all-NULL corpus sweep): an empty
    corpus refuses every builder with a NAMED error instead of an
    opaque 'exprs should not be empty' assert (SQ8) or silently
    returning empty artifacts over a garbage tree (PQ); all-NULL waves
    are no-op landings on quantized trees per the admission rule; the
    PQ paths keep their NULL-pass-through semantics (NULL vector in a
    gate-shaped in-plan op never raises the dim guard)."""
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators import similarity as sim

    schema = "vec_id long, embedding array<float>"
    all_null = spark.createDataFrame([(7, None)], schema)
    for name, fn in (
        ("sq8", lambda: sim.build_sq8_ivf_index(
            all_null, str(tmp_path / "sq8"), n_centroids=2)),
        ("pq", lambda: sim.build_pq_ivf_index(
            all_null, str(tmp_path / "pq"), n_centroids=2)),
        ("float", lambda: sim.build_ivf_index(
            all_null, str(tmp_path / "float"), n_centroids=2)),
        ("frontier", lambda: sim.index_codec_frontier(
            spark, all_null, all_null, str(tmp_path / "frontier"))),
    ):
        with pytest.raises(ValueError, match="no (non-NULL|seed) vectors"):
            fn()

    # valid small corpus; all-NULL waves are no-op landings everywhere
    em = (
        _embeddings(spark)
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
    )
    sidx, pidx = str(tmp_path / "s2"), str(tmp_path / "p2")
    cents, bounds = sim.build_sq8_ivf_index(em, sidx, n_centroids=8)
    _, codebooks = sim.build_pq_ivf_index(em, pidx, centroids=cents)
    n_s, n_p = (spark.read.parquet(p).count() for p in (sidx, pidx))
    sim.upsert_ivf_index(all_null, sidx, cents, wave=1, bounds=bounds)
    sim.upsert_ivf_index(all_null, pidx, cents, wave=1, codebooks=codebooks)
    assert spark.read.parquet(sidx).count() == n_s
    assert spark.read.parquet(pidx).count() == n_p

    # NULL vector flowing through the IN-PLAN PQ ops (the gate shape)
    # must not trip the dim guard — covered corpus-wide by
    # test_empty_corpus, pinned here at the operator grain
    mixed = em.limit(20).unionByName(all_null)
    assert sim.cosine_topk_pq(mixed, k_neighbors=2, n_queries=2).count() >= 0


def test_codec_rule_refuses_tree_artifact_mismatches(spark, tmp_path):
    """One codec rule for every entry point, and where the old per-path
    copies disagreed the refusal wins: a float wave into an SQ8 or a PQ
    tree (once accepted — it landed rows with NULL codes that score NULL
    and can never be returned), a serving stream given an artifact for a
    float tree (once ignored), and a float tree's report given one.
    Every refusal happens before anything is written."""
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators import similarity as sim
    from data_pipelines_cu_spark.streaming.jobs import run_streaming_ann_query

    em = (
        _embeddings(spark)
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
    )
    fidx, sidx, pidx = (str(tmp_path / c) for c in ("float", "sq8", "pq"))
    cents = sim.build_ivf_index(em, fidx, n_centroids=4, lloyd_iters=1)
    _, bounds = sim.build_sq8_ivf_index(em, sidx, centroids=cents)
    _, codebooks = sim.build_pq_ivf_index(em, pidx, centroids=cents)
    upd = em.filter(F.col("vec_id") < 5)

    with pytest.raises(ValueError, match="SQ8 index .* quantization bounds"):
        sim.upsert_ivf_index(upd, sidx, cents, wave=1)
    with pytest.raises(ValueError, match="PQ index .* frozen codebooks"):
        sim.upsert_ivf_index(upd, pidx, cents, wave=1)
    for path in (sidx, pidx):
        assert spark.read.parquet(path).filter("wave > 0").count() == 0

    rows = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in upd.limit(1).collect()
    ]
    qs = _stream_vectors(spark, tmp_path / "q", rows)
    with pytest.raises(ValueError, match="FLOAT tree but a quantization"):
        run_streaming_ann_query(
            qs, fidx, cents, str(tmp_path / "res"), str(tmp_path / "ck"),
            id_col="vec_id", bounds=bounds,
        )
    assert not (tmp_path / "ck").exists()
    with pytest.raises(ValueError, match="not a PQ wave index"):
        sim.ivf_drift_report(spark, fidx, cents, codebooks=codebooks)
