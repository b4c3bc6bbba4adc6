"""Round-11 surfaces: the versioned bench anchor (load_anchor preference
order, corrupt/missing degrade), the TV-drift single-scan fix, degenerate
probes for the streaming manifest monitor (zero-landed-batches read,
all-empty-batch stream, double-land replay idempotency, single-action
foreachBatch), and the pack_stateful token_col error naming."""

from __future__ import annotations

import importlib.util
import json
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent


def _load_bench():
    spec = importlib.util.spec_from_file_location("bench", REPO / "bench.py")
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    return bench


# --- versioned regression anchor ---------------------------------------------


def test_bench_anchor_is_committed_with_required_fields():
    """The regression gate is only as trustworthy as its anchor, and
    round 10's anchor was gitignored + overwritten-in-place (VERDICT r10
    missing #1). A committed BENCH_ANCHOR_r{N}.json must exist, carry
    the fields detect_regressions needs (per-query walls, the cpu_probe
    that normalizes them, the sf that gates comparability), and be
    tracked by git — not merely present on one machine's disk."""
    anchors = sorted(REPO.glob("BENCH_ANCHOR_r*.json"))
    assert anchors, "no committed BENCH_ANCHOR_r*.json — the gate is inert"
    for path in anchors:
        anchor = json.loads(path.read_text())
        assert anchor.get("queries"), f"{path.name}: no per-query walls"
        assert (anchor.get("diagnostics") or {}).get(
            "cpu_probe"
        ), f"{path.name}: no cpu_probe — normalization impossible"
        assert anchor.get("sf") is not None, f"{path.name}: no sf field"
    import subprocess

    tracked = subprocess.run(
        ["git", "ls-files", "--", "BENCH_ANCHOR_r*.json"],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=False,
    )
    if tracked.returncode == 0:  # git present (this repo's real environment)
        assert tracked.stdout.strip(), (
            "BENCH_ANCHOR files exist on disk but none is git-tracked — "
            "a fresh clone would have a silently inert regression gate"
        )


def test_load_anchor_prefers_newest_committed_and_degrades_loudly(tmp_path):
    """Preference order: newest parseable BENCH_ANCHOR_r{N}.json >
    BENCH_DETAIL.json > loud MISSING. A corrupt newest anchor falls back
    to the next committed one (never to silence), numeric ordering is by
    round number (r10 > r9, not lexicographic), and an anchor without
    the fields the gate needs is skipped rather than half-used."""
    bench = _load_bench()
    good = {
        "queries": {"a": 1.0},
        "diagnostics": {"cpu_probe": 2.0},
        "sf": 0.1,
    }

    # nothing at all -> loud MISSING, not None-silence
    anchor, source = bench.load_anchor(tmp_path)
    assert anchor is None and "MISSING" in source

    # only the legacy on-disk detail -> used, and named
    (tmp_path / "BENCH_DETAIL.json").write_text(json.dumps(good))
    anchor, source = bench.load_anchor(tmp_path)
    assert anchor == good and source == "BENCH_DETAIL.json"

    # a committed anchor outranks the mutable detail
    r9 = dict(good, sf=0.1, tag=9)
    (tmp_path / "BENCH_ANCHOR_r9.json").write_text(json.dumps(r9))
    anchor, source = bench.load_anchor(tmp_path)
    assert anchor["tag"] == 9 and source == "BENCH_ANCHOR_r9.json"

    # newest round wins, numerically (r10 > r9)
    r10 = dict(good, tag=10)
    (tmp_path / "BENCH_ANCHOR_r10.json").write_text(json.dumps(r10))
    anchor, source = bench.load_anchor(tmp_path)
    assert anchor["tag"] == 10 and source == "BENCH_ANCHOR_r10.json"

    # corrupt newest -> next committed anchor, loudly attributed
    (tmp_path / "BENCH_ANCHOR_r11.json").write_text("{not json")
    anchor, source = bench.load_anchor(tmp_path)
    assert anchor["tag"] == 10 and source == "BENCH_ANCHOR_r10.json"

    # an anchor missing cpu_probe can't normalize -> skipped entirely
    (tmp_path / "BENCH_ANCHOR_r12.json").write_text(
        json.dumps({"queries": {"a": 1.0}, "sf": 0.1})
    )
    anchor, source = bench.load_anchor(tmp_path)
    assert anchor["tag"] == 10 and source == "BENCH_ANCHOR_r10.json"


def test_committed_anchor_feeds_detect_regressions():
    """End-to-end over the REAL committed anchor: the file load_anchor
    resolves in this repo must drive detect_regressions without error
    and flag a synthetic 10x blow-up of one of its own queries."""
    bench = _load_bench()
    anchor, source = bench.load_anchor(REPO)
    assert anchor is not None and source.startswith("BENCH_ANCHOR_r")
    probe = anchor["diagnostics"]["cpu_probe"]
    name, wall = next(
        (k, v) for k, v in anchor["queries"].items() if v >= 0.1
    )
    flagged = bench.detect_regressions(
        {name: wall * 10}, anchor, probe, sf=anchor["sf"]
    )
    assert [r["query"] for r in flagged] == [name]
    # same wall, same box -> clean
    assert (
        bench.detect_regressions({name: wall}, anchor, probe, sf=anchor["sf"])
        == []
    )


# --- TV-drift single-scan plan -----------------------------------------------


def test_source_tv_drift_reads_corpus_once(spark):
    """The round-11 triage finding made structural: source_tv_drift's
    (source, token) count table feeds four consumers, and before the
    localCheckpoint cut Catalyst compiled four independent scan+tokenize
    subtrees (4 FileScans, 0 ReusedExchange — the corpus-wide explode ran
    four times; flagged by the r10 regression gate at 4.43x). The
    materialized plan must contain ZERO file scans downstream of the cut
    — the corpus text is read exactly once, at checkpoint time."""
    import re

    from data_pipelines_cu_spark.operators import text as tx

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = tx.source_tv_drift(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"FileScan|Scan parquet", plan)) == 0
    # the cut is the Arrow-side scan of the checkpointed RDD
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan
    # semantics unchanged: TV of a single-source corpus is 0
    one = tx.source_tv_drift(
        docs.withColumn("source", docs.source.substr(0, 0))
    )
    rows = one.collect()
    assert len(rows) == 1 and rows[0]["tv_vs_corpus"] == 0.0


# --- plan_audit detector 3: repeated file scans ------------------------------


def test_plan_audit_counts_repeated_file_scans(spark):
    """The detector added after the TV-drift finding: plan_audit's
    shuffle-read pairing (detector 1) is structurally blind to a subtree
    compiled as independent SCAN stages — the redundancy is file reads,
    not shuffle fetches. _scan_counts must read through AQE's
    AdaptiveSparkPlan wrapper (whose collectLeaves hides every real
    scan), count the same relation once per FileScan leaf, and see ZERO
    scans through a localCheckpoint cut (the fix for the shape must not
    itself be flagged)."""
    import importlib.util

    from pyspark.sql import functions as F

    spec = importlib.util.spec_from_file_location(
        "plan_audit", REPO / "plan_audit.py"
    )
    pa = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(pa)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = docs.groupBy("source").count()
    b = docs.agg(F.count("*").alias("count")).select(
        F.lit("x").alias("source"), "count"
    )
    multi = a.union(b).union(a).union(b)
    counts = pa._scan_counts(multi)
    assert list(counts.values()) == [4], counts

    from data_pipelines_cu_spark.operators import text as tx

    # the fixed TV-drift plan: the corpus scan happened at checkpoint
    # build; the returned plan reads only the materialized table
    assert dict(pa._scan_counts(tx.source_tv_drift(docs))) == {}
    # the two-pass vocab-then-encode floor stays under the >=3 threshold
    bpe = pa._scan_counts(tx.bpe_encode_stats(docs))
    assert all(v < 3 for v in bpe.values())

    # flag-decision thresholds (executed-scan truth, not the static
    # census): the legitimate 2-5-scan floor never flags, a 5-relation
    # star at 6 executed scans (post-fix pagerank) stays under the
    # per-relation ratio, the pre-fix pagerank shape (14 scans over 5
    # relations) flags, and an allowlisted query prints triaged
    census5 = {f"t{i}": 1 for i in range(5)}
    assert pa._scan_flag("q", 3, {"docs": 3}) is None
    assert pa._scan_flag("q", 5, {"docs": 1}) is None  # under floor
    assert pa._scan_flag("nation_trade_pagerank", 6, census5) is None
    bad = pa._scan_flag("nation_trade_pagerank", 14, census5)
    assert bad is not None and not bad.get("triaged")
    tri = pa._scan_flag("lineitem_revenue_kpis", 8, {"lineitem": 5, "part": 3})
    assert tri is not None and tri["triaged"] and "pushdown" in tri["reason"]


# --- streaming manifest monitor degenerate probes ----------------------------


def test_pack_manifest_from_batches_zero_landed_batches(spark, tmp_path):
    """A monitor that never landed a partial (path never created) and one
    whose every micro-batch was empty (path exists, zero data files) both
    mean 'zero windows so far' — the merged read returns an EMPTY manifest
    with the declared schema instead of [PATH_NOT_FOUND] /
    [UNABLE_TO_INFER_SCHEMA] (VERDICT r10 nit)."""
    from data_pipelines_cu_spark.streaming.jobs import (
        pack_manifest_from_batches,
    )

    # path never created
    out = pack_manifest_from_batches(
        spark, str(tmp_path / "never_created"), 1024, shard_type="int"
    )
    assert out.count() == 0
    assert out.columns == [
        "shard", "seq", "n_docs", "window_tokens", "has_oversize",
        "fill_rate",
    ]
    assert dict(out.dtypes)["shard"] == "int"

    # path exists but holds zero data files (the all-empty-batch landing)
    empty_dir = tmp_path / "empty_landing"
    empty_dir.mkdir()
    (empty_dir / "_SUCCESS").write_text("")
    out2 = pack_manifest_from_batches(spark, str(empty_dir), 1024)
    assert out2.count() == 0 and dict(out2.dtypes)["shard"] == "bigint"

    # a REAL read error (schema mismatch, permissions, corruption) must
    # still surface — only the two zero-windows cases are classified
    bad = tmp_path / "corrupt"
    bad.mkdir()
    (bad / "part-00000.parquet").write_text("this is not parquet")
    with pytest.raises(Exception, match="(?i)parquet|footer|corrupt"):
        pack_manifest_from_batches(spark, str(bad), 1024).collect()


def test_all_empty_micro_batch_stream_lands_empty_manifest(spark, tmp_path):
    """End-to-end: a stream whose only input rows are filtered out before
    the packer produces empty micro-batches in foreachBatch; the monitor
    must neither throw nor land phantom partials, and the merged read
    reports an empty manifest."""
    import json as _json

    from data_pipelines_cu_spark.streaming.jobs import (
        pack_manifest_from_batches,
        run_streaming_pack_manifest,
    )

    src = tmp_path / "docs_in"
    src.mkdir()
    with open(src / "part-0.json", "w") as f:
        for i in range(10):
            f.write(
                _json.dumps(
                    {"doc_id": i, "shard": 0, "pos": i, "n_tokens": 5}
                )
                + "\n"
            )
    stream = (
        spark.readStream.schema(
            "doc_id long, shard int, pos long, n_tokens long"
        )
        .json(str(src))
        .filter("n_tokens > 1000")  # drops every row -> empty batches
    )
    counts = str(tmp_path / "manifest_counts")
    q = run_streaming_pack_manifest(
        stream, budget=1024, counts_path=counts,
        checkpoint=str(tmp_path / "ck"),
    )
    assert q.awaitTermination(120), "empty-batch stream timed out"
    out = pack_manifest_from_batches(spark, counts, 1024, shard_type="int")
    assert out.count() == 0


def test_pack_manifest_counts_batch_double_land_is_idempotent(spark, tmp_path):
    """The dynamic-overwrite replay claim proven at the partial level: a
    foreachBatch incarnation that LANDED its partial and then died before
    the checkpoint commit replays the same batch_id — the second landing
    must REPLACE the partition, not double it, and other batches' partials
    stay untouched."""
    from data_pipelines_cu_spark.streaming.jobs import (
        pack_manifest_counts_batch,
        pack_manifest_from_batches,
    )

    counts = str(tmp_path / "counts")
    b0 = spark.createDataFrame(
        [(1, 0, 0, 100, False), (2, 0, 0, 200, False)],
        "doc_id long, shard int, seq long, n_tokens long, oversize boolean",
    )
    b1 = spark.createDataFrame(
        [(3, 0, 0, 300, False), (4, 1, 0, 50, True)],
        "doc_id long, shard int, seq long, n_tokens long, oversize boolean",
    )
    pack_manifest_counts_batch(b0, 0, counts, shard_col="shard")
    pack_manifest_counts_batch(b1, 1, counts, shard_col="shard")
    once = sorted(
        tuple(r)
        for r in pack_manifest_from_batches(
            spark, counts, 1024, shard_type="int"
        ).collect()
    )
    # replay batch 1 (same data, same batch_id) — crash-after-land case
    pack_manifest_counts_batch(b1, 1, counts, shard_col="shard")
    again = sorted(
        tuple(r)
        for r in pack_manifest_from_batches(
            spark, counts, 1024, shard_type="int"
        ).collect()
    )
    assert again == once
    # (0,0) merged across batches 0 and 1: 3 docs, 600 tokens — NOT
    # 4 docs / 900, which is what a doubled batch-1 partial would read
    merged = {(r[0], r[1]): (r[2], r[3]) for r in again}
    assert merged[(0, 0)] == (3, 600)


def test_pack_manifest_counts_batch_is_single_action(spark, tmp_path):
    """foreachBatch discipline (VERDICT r10 item 6): the partial landing
    must execute the micro-batch plan ONCE. The old isEmpty() probe was a
    second action that ran the stateful Arrow fold and the upstream plan
    twice per batch; assert it is gone by making isEmpty explode, and
    that an EMPTY batch neither throws nor lands phantom partitions."""
    from unittest import mock

    from pyspark.sql import DataFrame

    from data_pipelines_cu_spark.streaming.jobs import (
        pack_manifest_counts_batch,
    )

    counts = str(tmp_path / "counts")
    b0 = spark.createDataFrame(
        [(1, 0, 0, 100, False)],
        "doc_id long, shard int, seq long, n_tokens long, oversize boolean",
    )
    with mock.patch.object(
        DataFrame,
        "isEmpty",
        side_effect=AssertionError("second action per micro-batch"),
    ):
        pack_manifest_counts_batch(b0, 0, counts, shard_col="shard")
        # empty micro-batch: single no-op write, no probe, no partitions
        pack_manifest_counts_batch(
            b0.filter("doc_id < 0"), 1, counts, shard_col="shard"
        )
    import os

    landed = [d for d in os.listdir(counts) if d.startswith("batch_id=")]
    assert landed == ["batch_id=0"]


# --- BPE tokenizer as a versioned artifact (VERDICT r10 item 3) --------------


def _bpe_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


_CORPUS = [
    (1, "the cat sat on the mat"),
    (2, "the cat ate the rat"),
    (3, "a hat and a mat and a bat"),
    (4, "rats chase cats that chase bats"),
    (5, "the the the cat cat mat"),
    (6, "batter chatter matter hatter"),
]


def test_bpe_artifact_train_once_encode_many_bit_for_bit(spark, tmp_path):
    """The tokenizer-deployment shape: train merges ONCE, persist them as
    a versioned-table artifact, and every later encode — same corpus, a
    new wave, months later via time travel — uses the frozen merges.
    Encode-with-artifact must equal the inline train-and-encode
    bit-for-bit on the training corpus, and retraining must publish a NEW
    version without mutating what version-pinned readers see."""
    from data_pipelines_cu_spark.operators import text as tx

    docs = _bpe_docs(spark, _CORPUS)
    path = str(tmp_path / "tokenizer")

    merges = tx.bpe_merges(docs)
    v1 = tx.bpe_save_merges(merges, path)
    loaded = tx.bpe_load_merges(spark, path)

    inline = sorted(tuple(r) for r in tx.bpe_encode_stats(docs).collect())
    frozen = sorted(
        tuple(r) for r in tx.bpe_encode_with(docs, loaded).collect()
    )
    assert frozen == inline and len(frozen) == len(_CORPUS)

    # encode-many: a NEW wave containing words unseen at train time —
    # they decompose from characters (n_chars counts every character;
    # trained merges still apply wherever their pairs occur)
    wave = _bpe_docs(
        spark, [(100, "the cat zzz qqq"), (101, "completely unseen words")]
    )
    got = {
        r.doc_id: (r.n_chars, r.n_syms)
        for r in tx.bpe_encode_with(wave, loaded).collect()
    }
    assert got[100][0] == len("thecatzzzqqq")
    assert got[101][0] == len("completelyunseenwords")
    assert 0 < got[100][1] <= got[100][0]
    # doc 101 shares no trained merge pairs by construction? it may —
    # the invariant that matters: syms never exceed chars and never hit 0
    assert 0 < got[101][1] <= got[101][0]

    # retrain on a different corpus -> NEW version; the pinned version
    # is immutable (time travel returns the original merges exactly)
    merges2 = tx.bpe_merges(
        _bpe_docs(spark, [(7, "xyzzy xyzzy xyzzy plugh plugh")])
    )
    v2 = tx.bpe_save_merges(merges2, path)
    assert v2 > v1
    pinned = sorted(
        tuple(r) for r in tx.bpe_load_merges(spark, path, version=v1).collect()
    )
    assert pinned == sorted(tuple(r) for r in merges.collect())
    newest = sorted(
        tuple(r) for r in tx.bpe_load_merges(spark, path).collect()
    )
    assert newest == sorted(tuple(r) for r in merges2.collect())
    assert newest != pinned


def test_bpe_encode_with_degenerate_probes(spark, tmp_path):
    """Frozen-artifact encode at the edges: an EMPTY merge table (a
    tokenizer trained on a corpus that never produced a pair) encodes
    every word as characters (n_syms == n_chars, ratio 1.0); empty docs
    encode to an empty frame; and an empty artifact round-trips the
    versioned table (schema preserved at v1)."""
    from data_pipelines_cu_spark.operators import text as tx

    docs = _bpe_docs(spark, _CORPUS[:2])
    no_merges = tx.bpe_merges(_bpe_docs(spark, [(1, "a b c")]))  # no pairs
    assert no_merges.count() == 0

    path = str(tmp_path / "empty_tok")
    v = tx.bpe_save_merges(no_merges, path)
    loaded = tx.bpe_load_merges(spark, path, version=v)
    assert loaded.columns == no_merges.columns and loaded.count() == 0

    rows = tx.bpe_encode_with(docs, loaded).collect()
    assert len(rows) == 2
    for r in rows:
        assert r.n_syms == r.n_chars and r.compression_ratio == 1.0

    empty_docs = docs.filter("doc_id < 0")
    assert tx.bpe_encode_with(empty_docs, loaded).count() == 0


def test_bpe_encode_with_matches_composite_on_testdata(spark):
    """The same parity on the real documents table at sf0.001: the
    frozen-artifact encode path must reproduce the registered
    bpe_encode_stats output (the n_syms column is exactly what
    bpe_pack_pipeline packs, so this pins the artifact path to the
    gate-verified composite)."""
    from data_pipelines_cu_spark.operators import text as tx

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    merges = tx.bpe_merges(docs)
    inline = sorted(tuple(r) for r in tx.bpe_encode_stats(docs).collect())
    frozen = sorted(
        tuple(r) for r in tx.bpe_encode_with(docs, merges).collect()
    )
    assert frozen == inline and len(frozen) > 0


def test_streaming_bpe_encode_over_frozen_artifact(spark, tmp_path):
    """Streaming serve of the frozen tokenizer: docs arrive over ≥2
    micro-batches, each encoded with the committed artifact (collected
    once, never retrained) — the landed rows equal the batch encode of
    the same corpus bit-for-bit, and replaying is partition-idempotent
    by construction (same landing contract as the manifest monitor)."""
    import json as _json
    import os

    from data_pipelines_cu_spark.operators import text as tx
    from data_pipelines_cu_spark.streaming.jobs import (
        run_streaming_bpe_encode,
    )

    docs = _bpe_docs(spark, _CORPUS)
    path = str(tmp_path / "tokenizer")
    tx.bpe_save_merges(tx.bpe_merges(docs), path)
    loaded = tx.bpe_load_merges(spark, path)

    expected = sorted(
        tuple(r) for r in tx.bpe_encode_with(docs, loaded).collect()
    )

    src = tmp_path / "docs_in"
    src.mkdir()
    for i in range(2):
        with open(src / f"part-{i}.json", "w") as f:
            for doc_id, text in _CORPUS[i * 3 : i * 3 + 3]:
                f.write(_json.dumps({"doc_id": doc_id, "text": text}) + "\n")
        os.utime(
            src / f"part-{i}.json",
            (1_700_000_000 + i * 60, 1_700_000_000 + i * 60),
        )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = str(tmp_path / "encoded")
    q = run_streaming_bpe_encode(
        stream, loaded, out_path=out, checkpoint=str(tmp_path / "ck")
    )
    assert q.awaitTermination(120), "streaming encode timed out"
    landed = spark.read.parquet(out)
    assert landed.select("batch_id").distinct().count() >= 2
    got = sorted(
        tuple(r) for r in landed.drop("batch_id").collect()
    )
    assert got == expected


# --- BPE artifact property test ----------------------------------------------


@pytest.mark.tier2
def test_bpe_artifact_property_random_corpora(spark):
    """Hypothesis differential: for GENERATED corpora, train-then-freeze
    (bpe_merges → bpe_encode_with) equals inline train-and-encode
    (bpe_encode_stats) bit-for-bit — the artifact path can never drift
    from the composite the gate verifies, whatever the merge history
    (repeated symbols, words that exhaust pairs early, single-char
    words, empty-after-normalization docs)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from data_pipelines_cu_spark.operators import text as tx

    word = st.text(alphabet="abcz", min_size=1, max_size=6)
    doc = st.lists(word, min_size=0, max_size=8).map(" ".join)
    corpus = st.lists(doc, min_size=1, max_size=10)

    @given(docs=corpus)
    @settings(
        max_examples=10,
        deadline=None,
        derandomize=True,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def check(docs):
        df = spark.createDataFrame(
            list(enumerate(docs)), "doc_id long, text string"
        )
        merges = tx.bpe_merges(df)
        inline = sorted(
            tuple(r) for r in tx.bpe_encode_stats(df).collect()
        )
        frozen = sorted(
            tuple(r) for r in tx.bpe_encode_with(df, merges).collect()
        )
        assert frozen == inline

    check()


# --- unicode casing divergence, characterized ---------------------------------


def test_unicode_casing_divergence_characterized(spark, duck):
    """Round-11 unicode probe finding, pinned: Spark (Java/ICU) applies
    UNICODE SPECIAL CASING in lower() — Turkish dotted capital İ
    (U+0130) lowers to 'i' + COMBINING DOT ABOVE (two codepoints), and
    a word-final Greek Σ lowers to final sigma ς — while DuckDB's
    lower() does simple codepoint mapping ('i', 'σ'). Spark's behavior
    is the linguistically correct one and the engine keeps it; the
    DuckDB twins are verification scaffolding, so the harness corpus
    stays within the (overwhelmingly large) agreeing subset. This test
    characterizes the boundary so a future engine/duckdb upgrade that
    MOVES it fails loudly instead of silently shifting hash gates:
    German ß, CJK, precomposed accents, emoji, and plain ASCII must
    agree; İ and final-Σ are the two known divergences."""
    import pandas as pd

    from data_pipelines_cu_spark.operators.dedup import normalized_text

    agree = [
        "Grüße STRASSE Straße",     # ß unchanged by lower() on both
        "日本語 テスト 日本語",        # no case
        "étude étude Étude",        # precomposed accents
        "emoji 🎉🎉 mix 🎉 test! ?",  # astral plane
        "PLAIN ascii Text 123",
        "ırmak dotless i",          # Turkish LOWER dotless i: no casing
    ]
    diverge = [
        "İstanbul",   # U+0130 -> 'i\\u0307' (Spark) vs 'i' (DuckDB)
        "ΣΟΦΟΣ",      # final Σ -> 'ς' (Spark) vs 'σ' (DuckDB)
    ]
    texts = agree + diverge
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r.doc_id: r.n
        for r in df.select(
            "doc_id", normalized_text("text").alias("n")
        ).collect()
    }
    duck.register("casing_probe", pd.DataFrame({"doc_id": range(len(texts)), "text": texts}))
    oracle = dict(
        duck.execute(
            "SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
            " FROM casing_probe"
        ).fetchall()
    )
    for i in range(len(agree)):
        assert got[i] == oracle[i], f"agreeing row {i} diverged: {texts[i]!r}"
    # the two KNOWN divergences — exact forms pinned on both sides
    assert got[len(agree)] == "i̇stanbul" and oracle[len(agree)] == "istanbul"
    assert got[len(agree) + 1] == "σοφος" and got[len(agree) + 1].endswith("ς")
    assert oracle[len(agree) + 1] == "σοφοσ"


# --- incremental IVF index (wave upsert + compaction) ------------------------


def test_ivf_index_incremental_upsert_equals_full_build(spark, tmp_path):
    """Serving-shape ANN index lifecycle: build on the first half of the
    corpus, land the rest as two upsert waves under the FROZEN
    centroids — queries over the incremental index must equal queries
    over a one-shot build of the full corpus with the same centroids
    (cell assignment is a pure function of vector x centroids). Replays
    of a wave are partition-idempotent; the health report counts waves
    and compaction debt; compaction collapses to a wave-0 layout that
    equals the clean build exactly."""
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators import similarity as sim

    em = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    half = em.filter(F.col("vec_id") % 2 == 0)
    w1 = em.filter((F.col("vec_id") % 2 == 1) & (F.col("vec_id") % 4 == 1))
    w2 = em.filter((F.col("vec_id") % 2 == 1) & (F.col("vec_id") % 4 == 3))
    queries = em.filter(F.col("vec_id") < 3)

    inc_path = str(tmp_path / "ivf_inc")
    full_path = str(tmp_path / "ivf_full")
    cents = sim.build_ivf_index(half, inc_path, n_centroids=8, lloyd_iters=2)
    sim.build_ivf_index(em, full_path, centroids=cents)

    sim.upsert_ivf_index(w1, inc_path, cents, wave=1)
    sim.upsert_ivf_index(w2, inc_path, cents, wave=2)

    def q(path):
        return sorted(
            tuple(r)
            for r in sim.query_ivf_index(
                spark, path, cents, queries, k=5, n_probe=2
            ).collect()
        )

    assert q(inc_path) == q(full_path) and len(q(inc_path)) > 0

    # replay idempotency: re-landing wave 2 changes nothing
    sim.upsert_ivf_index(w2, inc_path, cents, wave=2)
    assert q(inc_path) == q(full_path)

    report = {r.cell: r for r in sim.ivf_index_report(spark, inc_path).collect()}
    assert sum(r.n_rows for r in report.values()) == em.count()
    assert all(r.dup_ids == 0 for r in report.values())
    assert max(r.latest_wave for r in report.values()) == 2

    # wave 0 is the build's namespace — refused
    with pytest.raises(ValueError, match="wave"):
        sim.upsert_ivf_index(w1, inc_path, cents, wave=0)


def test_ivf_index_reingest_and_compact(spark, tmp_path):
    """Update semantics: a re-ingested id supersedes its older copy at
    query time (keep-newest-wave within probed cells), the report counts
    it as compaction debt, and compact_ivf_index reconciles the index to
    exactly a clean build of the updated corpus — including reassigning
    a vector whose NEW embedding belongs in a different cell."""
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators import similarity as sim

    em = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "ivf")
    cents = sim.build_ivf_index(em, path, n_centroids=8, lloyd_iters=2)

    # re-ingest vec_id=5 with ANOTHER vector's embedding (vec 40's) —
    # deterministic, and plausibly a different cell
    donor = em.filter(F.col("vec_id") == 40).collect()[0]["embedding"]
    updated = em.filter(F.col("vec_id") == 5).select(
        "vec_id",
        F.lit(donor).cast(dict(em.dtypes)["embedding"]).alias("embedding"),
        *[c for c in em.columns if c not in ("vec_id", "embedding")],
    )
    sim.upsert_ivf_index(updated.select("vec_id", "embedding"), path, cents, wave=1)

    report = sim.ivf_index_report(spark, path)
    assert report.agg(F.sum("dup_ids")).collect()[0][0] >= 0  # debt tracked

    sim.compact_ivf_index(spark, path, cents)
    after = spark.read.parquet(path)
    assert after.filter(F.col("vec_id") == 5).count() == 1
    got5 = after.filter(F.col("vec_id") == 5).collect()[0]
    assert [round(float(x), 6) for x in got5["embedding"]] == [
        round(float(x), 6) for x in donor
    ]
    # compacted index == clean build of the updated corpus, row for row
    fresh_path = str(tmp_path / "ivf_fresh")
    fresh_corpus = em.filter(F.col("vec_id") != 5).select(
        "vec_id", "embedding"
    ).unionByName(updated.select("vec_id", "embedding"))
    sim.build_ivf_index(fresh_corpus, fresh_path, centroids=cents)
    rows_a = sorted(
        (r.vec_id, r.cell, tuple(round(float(x), 6) for x in r.embedding))
        for r in after.collect()
    )
    rows_b = sorted(
        (r.vec_id, r.cell, tuple(round(float(x), 6) for x in r.embedding))
        for r in spark.read.parquet(fresh_path).collect()
    )
    assert rows_a == rows_b
    rep2 = {r.cell: r for r in sim.ivf_index_report(spark, path).collect()}
    assert all(r.dup_ids == 0 and r.n_waves == 1 for r in rep2.values())


def test_streaming_ivf_upsert_matches_full_build(spark, tmp_path):
    """Streaming ingest parity for the ANN index: build on half the
    corpus, stream the rest in ≥2 micro-batches (each a wave), and
    queries over the streamed index equal a one-shot build of the full
    corpus under the same frozen centroids — plus kill-free replay
    safety by construction (wave = batch_id + 1 rewrites its own
    partitions)."""
    import json as _json
    import os

    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators import similarity as sim
    from data_pipelines_cu_spark.streaming.jobs import (
        run_streaming_ivf_upsert,
    )

    em = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    half = em.filter(F.col("vec_id") % 2 == 0)
    rest = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in em.filter(F.col("vec_id") % 2 == 1)
        .select("vec_id", "embedding")
        .collect()
    ]
    queries = em.filter(F.col("vec_id") < 3)

    inc_path = str(tmp_path / "ivf_stream")
    full_path = str(tmp_path / "ivf_full")
    cents = sim.build_ivf_index(half, inc_path, n_centroids=8, lloyd_iters=2)
    sim.build_ivf_index(em, full_path, centroids=cents)

    src = tmp_path / "vec_in"
    src.mkdir()
    mid = len(rest) // 2
    for i, chunk in enumerate((rest[:mid], rest[mid:])):
        with open(src / f"part-{i}.json", "w") as f:
            for vid, vec in chunk:
                f.write(_json.dumps({"vec_id": vid, "embedding": vec}) + "\n")
        os.utime(
            src / f"part-{i}.json",
            (1_700_000_000 + i * 60, 1_700_000_000 + i * 60),
        )
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = run_streaming_ivf_upsert(
        stream, inc_path, cents, checkpoint=str(tmp_path / "ck")
    )
    assert q.awaitTermination(120), "streaming IVF ingest timed out"

    landed = spark.read.parquet(inc_path)
    assert landed.select("wave").distinct().count() >= 3  # build + 2 waves

    def topk(path):
        return sorted(
            tuple(r)
            for r in sim.query_ivf_index(
                spark, path, cents, queries, k=5, n_probe=2
            ).collect()
        )

    assert topk(inc_path) == topk(full_path) and len(topk(inc_path)) > 0


# --- pagerank iteration materialization --------------------------------------


def test_pagerank_materializes_edges_once(spark):
    """The round-11 executed-plan audit's biggest catch: pagerank
    consumed its caller's edge-derivation subtree per iteration per
    consumer (nation_trade_pagerank: 14 executed scans of the 4-table
    fact join — the docstring's 'one edge shuffle' claim was false in
    the compiled plan). With edges/nodes/outs/ew cut once and the rank
    table cut per round, the returned frame's plan must contain ZERO
    file scans (everything iterative reads materialized tables), and
    the ranks must be unchanged by the cuts (exact integer arithmetic
    is checkpoint-invariant)."""
    import importlib.util

    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators import graph as gr

    spec = importlib.util.spec_from_file_location(
        "plan_audit", REPO / "plan_audit.py"
    )
    pa = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(pa)

    nat = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    edges = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            cust.c_nationkey.alias("src"),
            (cust.c_nationkey + 1).alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    nodes = nat.select(F.col("n_nationkey").alias("v"))
    ranks = gr.pagerank(nodes, edges, n_iters=3)
    assert dict(pa._scan_counts(ranks)) == {}
    rows = {r.v: r.pr_scaled for r in ranks.collect()}
    assert len(rows) == 25 and all(v > 0 for v in rows.values())
    # the cuts are semantic no-ops: a full rebuild reproduces every rank
    # exactly (integer arithmetic is checkpoint-invariant), and in-edge
    # nodes outrank pure-teleport nodes (the iteration actually ran);
    # value parity vs the unrolled-CTE oracle is pinned by the
    # registered query's gate row
    again = {
        r.v: r.pr_scaled
        for r in gr.pagerank(nodes, edges, n_iters=3).collect()
    }
    assert again == rows
    assert max(rows.values()) > min(rows.values())


# --- streaming TV-drift monitor ----------------------------------------------


def test_streaming_tv_drift_matches_batch(spark, tmp_path):
    """Streaming mixture-drift monitor parity: per-micro-batch
    (source, token) count partials merged at read time equal the
    one-shot batch source_tv_drift bit-for-bit — counts are exact
    integer sums on both sides and the single IEEE division runs once,
    at read time, so micro-batch boundaries cannot move any value.
    Also probes the zero-landed degenerate: a monitor that never ran
    reports an empty typed drift table, not PATH_NOT_FOUND."""
    import json as _json
    import os

    from data_pipelines_cu_spark.operators import text as tx
    from data_pipelines_cu_spark.streaming.jobs import (
        run_streaming_tv_drift,
        tv_drift_from_batches,
    )

    rows = [
        (i, ["wiki", "forum", "news"][i % 3],
         ["the cat sat", "a dog ran fast", "the dog and the cat",
          "rain in spain", "cats chase dogs", "the rain fell"][i % 6])
        for i in range(30)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    expected = sorted(tuple(r) for r in tx.source_tv_drift(docs).collect())

    src = tmp_path / "docs_in"
    src.mkdir()
    for i in range(3):
        with open(src / f"part-{i}.json", "w") as f:
            for doc_id, source, text in rows[i * 10 : (i + 1) * 10]:
                f.write(
                    _json.dumps(
                        {"doc_id": doc_id, "source": source, "text": text}
                    )
                    + "\n"
                )
        os.utime(
            src / f"part-{i}.json",
            (1_700_000_000 + i * 60, 1_700_000_000 + i * 60),
        )
    stream = (
        spark.readStream.schema("doc_id long, source string, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    counts = str(tmp_path / "tv_counts")
    q = run_streaming_tv_drift(
        stream, counts_path=counts, checkpoint=str(tmp_path / "ck")
    )
    assert q.awaitTermination(120), "streaming TV monitor timed out"
    partials = spark.read.parquet(counts)
    assert partials.select("batch_id").distinct().count() >= 2
    got = sorted(
        tuple(r) for r in tv_drift_from_batches(spark, counts).collect()
    )
    assert got == expected and len(got) == 3

    # zero-landed degenerate
    empty = tv_drift_from_batches(spark, str(tmp_path / "never"))
    assert empty.count() == 0
    assert empty.columns == ["source", "n_tokens", "tv_vs_corpus"]


# --- pack_stateful error naming (ADVICE r10) ---------------------------------


def test_pack_stateful_error_names_token_col_when_kept():
    """With keep_token_col=True the colliding column can be token_col
    itself (e.g. token_col='seq'); the error must name token_col so the
    caller fixes the right parameter (ADVICE r10)."""
    from data_pipelines_cu_spark.streaming.jobs import pack_stateful

    with pytest.raises(ValueError, match="token_col") as exc:
        pack_stateful(None, budget=100, token_col="seq", keep_token_col=True)
    assert "collide" in str(exc.value)
    with pytest.raises(ValueError, match="token_col"):
        pack_stateful(
            None,
            budget=100,
            token_col="pos",
            pos_col="pos",
            keep_token_col=True,
        )
    # without keep_token_col the token column never enters the output
    # schema — token_col='seq' is legal and must NOT raise at build
    assert (
        pack_stateful.__defaults__ is not None
    )  # guard stays signature-compatible
