"""Incremental curation waves against persisted versioned state
(pipelines/incremental.py): admitted-only state semantics, replay safety,
and rejected-content recurrence."""

from __future__ import annotations

from data_pipelines_cu_spark.pipelines import incremental as inc


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


BENCH_TEXT = "alpha beta gamma delta epsilon zeta"


def test_ingest_waves_dedupe_against_state(spark, tmp_path):
    state = str(tmp_path / "state")
    bench = _docs(spark, [(9000, BENCH_TEXT)])
    w1 = _docs(spark, [
        (1, "spark rows join group count window stream batch table scan"),
        (2, "one two three four five six seven eight nine ten"),
    ])
    r1 = inc.ingest_wave(spark, w1, state, wave_id=1, benchmark=bench)
    assert r1["admitted"] == 2 and r1["corpus_version"] == 1

    w2 = _docs(spark, [
        # exact dup of doc 1 (different id, same normalized text)
        (101, "spark rows join group count window stream batch table scan"),
        # near-dup of doc 2 (one word changed)
        (102, "one two three four five six seven eight nine eleven"),
        # contaminated: shares the 'alpha beta gamma' trigram with the bench
        (103, "report contains alpha beta gamma quoted from the benchmark"),
        # fresh
        (104, "completely different words about training data goes here"),
    ])
    r2 = inc.ingest_wave(spark, w2, state, wave_id=2, benchmark=bench)
    assert r2["after_exact"] == 3      # 101 dropped vs digest state
    assert r2["after_near_dup"] == 2   # 102 dropped vs band state
    assert r2["admitted"] == 1         # 103 dropped by decontamination
    corpus = {r.doc_id for r in inc.read_corpus(spark, state).collect()}
    assert corpus == {1, 2, 104}

    # replay wave 2 (crash before checkpoint commit): same inputs, same
    # committed state -> every table commit no-ops, corpus unchanged
    r2b = inc.ingest_wave(spark, w2, state, wave_id=2, benchmark=bench)
    assert r2b["corpus_version"] == r2["corpus_version"] == 2
    assert {r.doc_id for r in inc.read_corpus(spark, state).collect()} == {1, 2, 104}

    # wave 3: an exact copy of the REJECTED near-dup 102 must still be
    # rejected — it near-dups the admitted doc 2 via the band index
    # (admitted-only state is self-consistent)
    w3 = _docs(spark, [
        (202, "one two three four five six seven eight nine eleven"),
        (203, "yet another genuinely novel document for the third wave"),
    ])
    r3 = inc.ingest_wave(spark, w3, state, wave_id=3, benchmark=bench)
    assert r3["after_exact"] == 2      # 202's text was never ADMITTED
    assert r3["admitted"] == 1         # ...but its bands collide with doc 2
    assert {r.doc_id for r in inc.read_corpus(spark, state).collect()} == {1, 2, 104, 203}


def test_partial_crash_replay_cannot_tear_state(spark, tmp_path):
    """The ADVICE r3 scenario: a wave that crashes AFTER its state data is
    written but BEFORE the commit point must leave all three state tables
    unadvanced, and the replay must admit exactly what a clean run would —
    in particular the wave's band rows reach the index, so later near-dups
    of the wave's docs are still caught (the old three-independent-commits
    design permanently dropped them)."""
    from data_pipelines_cu_spark.operators import table as vt

    class CrashAtPublish(vt.LocalTableFS):
        def __init__(self):
            self.crash_next_put = False

        def put_text(self, path, text, if_match=None):
            if self.crash_next_put:
                self.crash_next_put = False
                raise RuntimeError("simulated crash at the commit point")
            super().put_text(path, text, if_match)

    fs = CrashAtPublish()
    state = str(tmp_path / "state")
    w1 = _docs(spark, [(1, "spark rows join group count window stream batch table scan")])
    inc.ingest_wave(spark, w1, state, wave_id=1, fs=fs)

    w2 = _docs(spark, [(2, "one two three four five six seven eight nine ten")])
    fs.crash_next_put = True
    try:
        inc.ingest_wave(spark, w2, state, wave_id=2, fs=fs)
        raise AssertionError("expected the simulated crash")
    except RuntimeError:
        pass
    # nothing advanced: corpus, digests, bands all still at wave 1
    assert {r.doc_id for r in inc.read_corpus(spark, state, fs=fs).collect()} == {1}
    assert set(vt.multi_table_batches(state, fs=fs)) == {"1"}

    # replay commits everything under one manifest put
    r2 = inc.ingest_wave(spark, w2, state, wave_id=2, fs=fs)
    assert r2["admitted"] == 1
    assert {r.doc_id for r in inc.read_corpus(spark, state, fs=fs).collect()} == {1, 2}

    # the replayed wave's bands are IN the index: a near-dup of doc 2
    # (one word changed) is rejected in wave 3
    w3 = _docs(spark, [(3, "one two three four five six seven eight nine eleven")])
    r3 = inc.ingest_wave(spark, w3, state, wave_id=3, fs=fs)
    assert r3["after_exact"] == 1 and r3["admitted"] == 0
    assert {r.doc_id for r in inc.read_corpus(spark, state, fs=fs).collect()} == {1, 2}


def test_read_corpus_ignores_orphans_and_empty_state(spark, tmp_path):
    """read_corpus resolves waves through the committed ledger, so an
    orphan corpus version from a crashed writer is never unioned (no
    double-count), and an empty state dir raises instead of IndexError."""
    import os

    import pytest

    state = str(tmp_path / "state")
    with pytest.raises(FileNotFoundError):
        inc.read_corpus(spark, state)
    w1 = _docs(spark, [(1, "spark rows join group count window stream batch table scan")])
    inc.ingest_wave(spark, w1, state, wave_id=1)
    # orphan: same rows landed again under v=2, manifest never flipped
    corpus_dir = os.path.join(state, "corpus")
    spark.read.parquet(os.path.join(corpus_dir, "v=1")).write.parquet(
        os.path.join(corpus_dir, "v=2")
    )
    rows = inc.read_corpus(spark, state).collect()
    assert [r.doc_id for r in rows] == [1]  # not doubled


def test_v2_waves_plus_replay_match_one_shot_shards(spark, sf_dir, tmp_path):
    """Curation v2 run incrementally: two waves (the second crash-injected
    at the commit point, then replayed) followed by materialize must
    produce BYTE-IDENTICAL shard assignments to the one-shot
    curation_v2_shards plan over the union corpus — the CDC gate, DSIR
    ranking, and shard order all resolve from committed summaries alone."""
    import pytest

    from data_pipelines_cu_spark.operators import table as vt
    from data_pipelines_cu_spark.queries import all_queries

    class CrashAtPublish(vt.LocalTableFS):
        def __init__(self):
            self.crash_next_put = False

        def put_text(self, path, text, if_match=None):
            if self.crash_next_put:
                self.crash_next_put = False
                raise RuntimeError("simulated crash at the commit point")
            super().put_text(path, text, if_match)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w1 = docs.filter("doc_id % 2 = 0")
    w2 = docs.filter("doc_id % 2 = 1")
    state = str(tmp_path / "v2state")
    fs = CrashAtPublish()

    inc.ingest_wave_v2(spark, w1, state, wave_id=1, fs=fs)
    fs.crash_next_put = True
    with pytest.raises(RuntimeError, match="simulated crash"):
        inc.ingest_wave_v2(spark, w2, state, wave_id=2, fs=fs)
    # crash left wave 2 entirely uncommitted
    assert set(vt.multi_table_batches(state, fs=fs)) == {"1"}
    # replay commits all three summary tables under one manifest put
    r2 = inc.ingest_wave_v2(spark, w2, state, wave_id=2, fs=fs)
    assert set(vt.multi_table_batches(state, fs=fs)) == {"1", "2"}

    got = sorted(
        (r.doc_id, r.shard, r.pos)
        for r in inc.materialize_v2_shards(spark, state, fs=fs).collect()
    )
    want = sorted(
        (r.doc_id, r.shard, r.pos)
        for r in all_queries()["curation_v2_shards"].fn(spark, sf_dir).collect()
    )
    assert got == want and len(got) > 0

    # double-replay of an already-committed wave is a ledger no-op
    r2b = inc.ingest_wave_v2(spark, w2, state, wave_id=2, fs=fs)
    assert r2b["corpus_version"] == r2["corpus_version"]


# --- The one-cut wave against the composition it replaced ------------------
# The two functions below are the previous ingest_wave and
# incremental_near_dup compositions, kept verbatim (bar names) as
# test-local references: groupBy + anti-join + join-back exact dedup, a
# cut band frame probed by a semi-join and a bucket-min join, and four
# counts that re-run the plan. They are not shipped code.


def _ref_incremental_near_dup(
    incoming, band_index, text_col="text", id_col="doc_id", n=3
):
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators.dedup import minhash_band_rows
    from data_pipelines_cu_spark.operators.materialize import lineage_cut

    bands = minhash_band_rows(incoming, text_col, id_col, n)
    bands = bands.transform(lineage_cut)
    idx_hit = (
        bands.join(band_index.select("band", "bhash"), ["band", "bhash"], "leftsemi")
        .select(id_col)
        .distinct()
    )
    bucket_min = bands.groupBy("band", "bhash").agg(F.min(id_col).alias("_min_id"))
    batch_hit = (
        bands.join(bucket_min, ["band", "bhash"])
        .filter(F.col(id_col) > F.col("_min_id"))
        .select(id_col)
        .distinct()
    )
    losers = idx_hit.unionByName(batch_hit).distinct()
    return bands.join(losers, id_col, "left_anti")


def _ref_load_state(spark, root, name, schema, fs=None):
    from data_pipelines_cu_spark.operators.table import read_multi_table

    try:
        return read_multi_table(spark, root, name, fs=fs)
    except FileNotFoundError:
        return spark.createDataFrame([], schema)


def _ref_ingest_wave(
    spark, new_docs, state_dir, wave_id, benchmark=None,
    text_col="text", id_col="doc_id", fs=None,
):
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators.dedup import (
        contamination_hits,
        normalized_text,
    )
    from data_pipelines_cu_spark.operators.materialize import lineage_cut
    from data_pipelines_cu_spark.operators.table import (
        commit_batch_multi,
        multi_table_batches,
    )

    digests = _ref_load_state(spark, state_dir, "digests", "content_hash string", fs)
    bands = _ref_load_state(
        spark, state_dir, "bands", "doc_id long, band int, bhash string", fs
    )
    inc_ = new_docs.select(
        F.col(id_col), F.md5(normalized_text(text_col)).alias("content_hash")
    )
    firsts = inc_.groupBy("content_hash").agg(F.min(id_col).alias(id_col))
    fresh = firsts.join(
        digests.select("content_hash").distinct(), "content_hash", "left_anti"
    )
    s1 = new_docs.join(fresh.select(id_col), id_col)
    surviving_bands = _ref_incremental_near_dup(
        s1, bands, text_col=text_col, id_col=id_col
    ).transform(lineage_cut)
    s2 = s1.join(surviving_bands.select(id_col).distinct(), id_col)
    if benchmark is not None:
        hits = contamination_hits(s2, benchmark, text_col=text_col, id_col=id_col)
        s3 = s2.join(hits.select(id_col), id_col, "left_anti")
    else:
        s3 = s2
    s3 = s3.transform(lineage_cut)
    admitted_ids = s3.select(id_col)
    admitted_bands = surviving_bands.join(admitted_ids, id_col, "leftsemi")
    admitted_digests = inc_.join(admitted_ids, id_col, "leftsemi").select(
        "content_hash"
    )
    versions = commit_batch_multi(
        {
            "corpus": s3,
            "digests": digests.unionByName(admitted_digests).distinct(),
            "bands": bands.unionByName(admitted_bands),
        },
        state_dir,
        wave_id,
        fs=fs,
    )
    if versions is None:
        versions = multi_table_batches(state_dir, fs=fs)[str(wave_id)]
    return {
        "wave_id": wave_id,
        "incoming": new_docs.count(),
        "after_exact": s1.count(),
        "after_near_dup": s2.count(),
        "admitted": s3.count(),
        "corpus_version": versions["corpus"],
        "digest_version": versions["digests"],
        "bands_version": versions["bands"],
    }


def _state(spark, state_dir):
    """Committed corpus, digests and bands as multisets, plus columns."""
    from collections import Counter

    from data_pipelines_cu_spark.operators.table import read_multi_table

    out = {}
    for name in ("corpus", "digests", "bands"):
        df = read_multi_table(spark, state_dir, name)
        out[name] = (df.columns, Counter(map(tuple, df.collect())))
    return out


def _wave_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_one_cut_wave_matches_reference_composition(spark, tmp_path):
    """Wave by wave, ingest_wave and the composition it replaced return the
    same dicts and commit the same corpus, digests and bands: in-wave exact
    duplicates, re-sent copies of admitted docs, near-dups within a wave
    and against the index, docs under 3 words (no band rows), NULL text, a
    contaminated doc, a replayed wave and an empty wave."""
    bench = _docs(spark, [(9000, BENCH_TEXT)])
    base = "spark rows join group count window stream batch table scan"
    waves = [
        (None, [
            (5, base, "en"),
            (3, "  SPARK rows join group count window stream batch table scan", "en"),
            (2, "one two three four five six seven eight nine ten", "de"),
            (4, "one two three four five six seven eight nine eleven", "de"),
            (6, "two words", "en"),
            (7, None, "en"),
            (8, None, "fr"),
            (9, "completely different words about training data goes here", "en"),
        ]),
        (bench, [
            (101, base, "en"),  # re-sent copy of admitted doc 3
            (1, "one two three four five six seven eight nine twelve", "de"),
            (103, "report contains alpha beta gamma quoted from the benchmark", "en"),
            (104, "yet another genuinely novel document for the second wave", "en"),
            (105, "yet another genuinely novel document for the second wave", "en"),
            (106, "hi", "en"),
            (107, None, "en"),
            (108, "fresh material on lakehouse formats and vector search engines", "en"),
        ]),
        (bench, "replay"),
        (None, []),
        (bench, [
            (301, "report contains alpha beta gamma quoted from the benchmark", "en"),
            (302, "yet another genuinely novel document for the second wave", "en"),
            (303, "the fourth wave brings one more brand new document along", "en"),
            (304, "the fourth wave brings one more brand new document aboard", "en"),
        ]),
    ]
    got_dir, want_dir = str(tmp_path / "got"), str(tmp_path / "want")
    wave_id = 0
    for benchmark, rows in waves:
        if rows != "replay":
            wave_id += 1
            docs = _wave_docs(spark, rows)
        got = inc.ingest_wave(spark, docs, got_dir, wave_id, benchmark=benchmark)
        want = _ref_ingest_wave(spark, docs, want_dir, wave_id, benchmark=benchmark)
        assert got == want, (wave_id, rows == "replay")
        assert _state(spark, got_dir) == _state(spark, want_dir), wave_id
    # the cases above bite: each stage drops something somewhere
    corpus = {r.doc_id for r in inc.read_corpus(spark, got_dir).collect()}
    assert corpus == {3, 2, 9, 104, 108, 303}


def test_incremental_near_dup_against_index_and_batch(spark):
    """The band rows of surviving docs, and only theirs: a doc colliding
    with the index or with a lower id in the batch loses all its rows; a
    doc with no band rows (under 3 words, NULL text) does not survive.
    Equal, as a multiset, to the composition the operator replaced."""
    from collections import Counter

    from data_pipelines_cu_spark.operators.dedup import (
        incremental_near_dup,
        minhash_band_rows,
    )

    index = minhash_band_rows(_docs(spark, [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "one two three four five six seven eight nine"),
    ]))
    batch = _docs(spark, [
        (10, "alpha beta gamma delta epsilon zeta eta iota"),  # vs index
        (11, "spark rows join group count window stream batch"),
        (12, "spark rows join group count window stream batch"),  # vs 11
        (13, "too short"),
        (14, None),
        (15, "completely different words about training data here"),
    ])
    got = incremental_near_dup(batch, index)
    assert got.columns == ["doc_id", "band", "bhash"]
    rows = Counter(map(tuple, got.collect()))
    assert {r[0] for r in rows} == {11, 15}
    assert sum(rows.values()) == 16
    want = Counter(map(tuple, _ref_incremental_near_dup(batch, index).collect()))
    assert rows == want


def test_wave_job_budget(spark, sf_dir, tmp_path):
    """A wave is one cut plus its three state writes: at most 12 Spark jobs
    for the fixture corpus's second wave (the composition it replaced ran
    52 here — schema inference of each state table, two cuts, and four
    counts that re-ran the dedup plan)."""
    from tests.util import jobs_of

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    state = str(tmp_path / "state")
    inc.ingest_wave(spark, docs.filter("doc_id % 2 = 0"), state, wave_id=1)
    second = docs.filter("doc_id % 2 = 1")
    n = jobs_of(spark, lambda: inc.ingest_wave(spark, second, state, wave_id=2))
    assert n <= 12, n


def test_wave_leaves_session_serializable(spark, tmp_path):
    """Spark ML fits serialize the SparkSession inside their closures, so
    a wave must leave the session serializable: its counts are observed
    metrics read from the cut's query execution, not pyspark's
    Observation helper, whose session-level manager Spark cannot
    serialize."""
    inc.ingest_wave(
        spark, _docs(spark, [(1, BENCH_TEXT)]), str(tmp_path / "s"), wave_id=1
    )
    jvm = spark._jvm
    out = jvm.java.io.ObjectOutputStream(jvm.java.io.ByteArrayOutputStream())
    out.writeObject(spark._jsparkSession)
