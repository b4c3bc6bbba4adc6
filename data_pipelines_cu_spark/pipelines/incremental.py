"""Incremental curation: the production daily-ingest wave.

Each wave of new documents is curated AGAINST PERSISTED STATE rather than
by rescanning the corpus: exact dedup windows the wave over the
admitted-digest table, near-dup probes the admitted LSH band index,
decontamination screens against the benchmark, and ALL THREE state tables
(corpus, digests, bands) advance under ONE atomic multi-table commit keyed
by the wave id (operators/table.commit_batch_multi) — so a crashed or replayed
wave can never double-admit a document or tear the state. A crash at ANY
point either leaves no table advanced (the wave's data dirs are invisible
orphans; the replay recomputes from the same pre-wave committed state and
commits identical results) or all three advanced (the replay is a ledger
no-op). Three independent per-table commits would break this: a crash
between the digest and band commits makes the replay reload digest state
that already contains the wave, emptying the exact-dedup survivor set and
permanently omitting the wave's band rows.

State is ADMITTED-ONLY by design, and that is self-consistent:
- an exact copy of a previously REJECTED near-dup is still caught,
  because it is a near-dup of the same admitted doc the original
  collided with (the band index holds admitted bands);
- a recurring contaminated doc is re-caught by the contamination screen
  (benchmark membership is stateless).

Scale: each wave shuffles digests/band hashes only (32-byte rows) plus
the wave's own rows, the benchmark grams broadcast, and state updates are
unions of the prior committed snapshot with the wave's admitted rows. The
wave's decisions land in ONE per-doc frame (doc columns, content hash,
exact / near / admitted flags, surviving band rows) cut once, so the three
state writes and the four counts read it instead of re-running the
dedup plan: a wave runs about a dozen Spark jobs, set by dispatch, not by
data. Here the union rewrites the snapshot (fixture-sized state); a
production deployment appends a wave partition to each state table
instead — the commit protocol is unchanged. Reference grounding: the
course's backfill anti-join upsert (lecture3/15:186-188), keyed on
content and made stateful + transactional.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import (
    contamination_hits,
    incremental_near_dup,
    normalized_text,
)
from ..operators.windows import take_ordered
from ..operators.table import (
    _multi_table_path,
    commit_batch_multi,
    multi_table_batches,
    read_multi_table,
)
from ..operators.materialize import lineage_cut


def _load_state(spark: SparkSession, root: str, name: str, schema: str, fs=None):
    """The current committed version of state table ``name``, read with its
    declared ``schema`` (no schema-inference job); empty before the first
    commit."""
    try:
        path = _multi_table_path(root, name, fs=fs)
    except FileNotFoundError:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(path)


def ingest_wave(
    spark: SparkSession,
    new_docs: DataFrame,
    state_dir: str,
    wave_id: int,
    benchmark: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    fs=None,
) -> dict:
    """Run one curation wave; returns per-stage counts + state versions.
    Replay-safe: re-running a committed ``wave_id`` recomputes the same
    survivors from the same committed inputs and the single commit no-ops;
    a PARTIALLY-crashed wave (data written, manifest never flipped) leaves
    only invisible orphans, so the replay starts from identical pre-wave
    state for all three tables at once."""
    digests = _load_state(spark, state_dir, "digests", "content_hash string", fs)
    bands = _load_state(
        spark, state_dir, "bands", "doc_id long, band int, bhash string", fs
    )
    doc_cols = [id_col] + [c for c in new_docs.columns if c != id_col]

    # 1. exact dedup: one window over the wave's rows tagged-unioned with
    # the admitted digests, by content hash (32-byte keys). A doc survives
    # when no state row shares its hash and it holds the lowest id of its
    # hash group in the wave.
    by_hash = Window.partitionBy("content_hash")
    exact = (
        new_docs.select(
            *doc_cols,
            F.md5(normalized_text(text_col)).alias("content_hash"),
            F.lit(False).alias("_seen"),
        )
        .unionByName(
            digests.withColumn("_seen", F.lit(True)), allowMissingColumns=True
        )
        .withColumn(
            "_exact",
            ~F.max("_seen").over(by_hash)
            & (F.col(id_col) == F.min(id_col).over(by_hash)),
        )
        .filter(~F.col("_seen"))
    )

    # 2. near-dup against the admitted band index (+ in-wave collisions):
    # a doc survives when the operator returns band rows for it
    surviving_bands = incremental_near_dup(
        exact.filter("_exact"), bands, text_col=text_col, id_col=id_col
    )
    frame = exact.join(
        surviving_bands.groupBy(id_col).agg(
            F.collect_list(F.struct("band", "bhash")).alias("_bands")
        ),
        id_col,
        "left",
    ).withColumn("_near", F.col("_bands").isNotNull())

    # 3. benchmark decontamination (broadcast gram digests, stateless)
    admitted = F.col("_near")
    if benchmark is not None:
        hits = contamination_hits(
            frame.filter("_near"), benchmark, text_col=text_col, id_col=id_col
        ).select(id_col, F.lit(True).alias("_hit"))
        frame = frame.join(hits, id_col, "left")
        admitted = admitted & F.col("_hit").isNull()

    # 4. the one cut: every write below reads this frame. The four counts
    # are metrics observed while the cut's own job runs (no job of their
    # own, and a replayed wave, whose commit writes nothing, still gets
    # them), read back from the query execution the cut ran. Not through
    # pyspark's Observation helper: it gives the session an
    # ObservationManager that Spark cannot serialize, and every later
    # Spark ML fit in that session then fails with "Task not
    # serializable".
    observed = frame.withColumn("_admitted", admitted).observe(
        "ingest_wave_counts",
        F.count(F.lit(1)).alias("incoming"),
        F.count_if("_exact").alias("after_exact"),
        F.count_if("_near").alias("after_near_dup"),
        F.count_if("_admitted").alias("admitted"),
    )
    frame = observed.transform(lineage_cut)
    counts = json.loads(
        observed._jdf.queryExecution()
        .observedMetrics()
        .apply("ingest_wave_counts")
        .json()
    )
    kept = frame.filter("_admitted")

    # 5. transactional state advance: ONE commit point for all three tables
    versions = commit_batch_multi(
        {
            "corpus": kept.select(*doc_cols),
            "digests": digests.unionByName(kept.select("content_hash")).distinct(),
            "bands": bands.unionByName(kept.select(id_col, F.inline("_bands"))),
        },
        state_dir,
        wave_id,
        fs=fs,
    )
    if versions is None:  # replayed, already-committed wave
        versions = multi_table_batches(state_dir, fs=fs)[str(wave_id)]

    return {
        "wave_id": wave_id,
        **counts,
        "corpus_version": versions["corpus"],
        "digest_version": versions["digests"],
        "bands_version": versions["bands"],
    }


def read_corpus(spark: SparkSession, state_dir: str, fs=None) -> DataFrame:
    """Union of every COMMITTED corpus wave, resolved through the batch
    ledger — never the on-disk directory listing, which can contain
    uncommitted orphans from crashed writers (reading those would
    double-count a crashed-then-replayed wave and expose torn data).
    Production keeps waves as partitions of one table; here versions ARE
    the waves, so the committed corpus is their union. Raises
    FileNotFoundError when no wave has ever committed."""
    return _read_all_waves(spark, state_dir, "corpus", fs=fs)


# --- Curation v2, incremental ------------------------------------------------
# The round-4 composition (CDC span gate -> DSIR selection -> shard order)
# run PRODUCTION-SHAPED: each wave tokenizes and chunks ONLY its own new
# docs, persisting doc-local summaries (chunk digests, DSIR bucket counts)
# alongside the raw rows under the same atomic multi-table commit as v1
# waves. Cross-doc decisions (is this chunk duplicated? is this doc in the
# DSIR top-n?) are inherently corpus-relative — a later wave can change an
# earlier doc's dup_fraction — so they are taken at MATERIALIZE time from
# the summaries alone: no stored document is ever re-tokenized. The
# materialized shard assignment is BYTE-IDENTICAL to running the one-shot
# curation_v2_shards pipeline over the union corpus (tested by replaying a
# crashed wave and diffing against the one-shot plan).


def ingest_wave_v2(
    spark: SparkSession,
    new_docs: DataFrame,
    state_dir: str,
    wave_id: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    divisor: int = 8,
    n_buckets: int = 256,
    fs=None,
) -> dict:
    """Summarize-and-commit one curation-v2 wave: the wave's docs, their
    content-defined chunk digests, and their DSIR hashed-unigram bucket
    counts advance under ONE commit point. The only corpus-sized work
    (tokenize + chunk window) touches the NEW docs exclusively."""
    from ..operators.dedup import cdc_doc_chunks
    from ..operators.sampling import hash_bucket

    chunks = cdc_doc_chunks(
        new_docs, text_col=text_col, id_col=id_col, divisor=divisor
    ).select(F.col(id_col), F.col("_ch").alias("chunk_digest"))
    toks = new_docs.select(
        F.col(id_col),
        F.col(lang_col),
        F.explode(F.split(normalized_text(text_col), " ")).alias("_w"),
    )
    buckets = (
        toks.select(
            id_col, lang_col, hash_bucket(F.col("_w"), n_buckets, "dsir").alias("b")
        )
        .groupBy(id_col, lang_col, "b")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    versions = commit_batch_multi(
        {"v2_corpus": new_docs, "v2_chunks": chunks, "v2_buckets": buckets},
        state_dir,
        wave_id,
        fs=fs,
    )
    if versions is None:  # replayed, already-committed wave
        versions = multi_table_batches(state_dir, fs=fs)[str(wave_id)]
    return {
        "wave_id": wave_id,
        "incoming": new_docs.count(),
        "corpus_version": versions["v2_corpus"],
        "chunks_version": versions["v2_chunks"],
        "buckets_version": versions["v2_buckets"],
    }


def _read_all_waves(spark: SparkSession, state_dir: str, name: str, fs=None):
    ledger = multi_table_batches(state_dir, fs=fs)
    versions = sorted(vs[name] for vs in ledger.values() if name in vs)
    if not versions:
        raise FileNotFoundError(f"no committed {name} waves at {state_dir}")
    parts = [
        read_multi_table(spark, state_dir, name, version=v, fs=fs)
        for v in versions
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def materialize_v2_shards(
    spark: SparkSession,
    state_dir: str,
    target_lang: str = "en",
    dup_threshold: float = 0.25,
    top_n: int = 300,
    id_col: str = "doc_id",
    lang_col: str = "lang",
    n_buckets: int = 256,
    n_shards: int = 16,
    fs=None,
) -> DataFrame:
    """Materialize the v2 training shards from committed wave summaries:
    CDC gate (dup_fraction over FINAL cross-wave digest counts) -> DSIR
    top-n (ratio table from the post-gate bucket sums; the per-doc decimal
    sum folds bucket counts, exactly equal to the one-shot per-token sum)
    -> shard+pos order. Identical output to queries.curation_v2_shards on
    the union corpus, without re-reading any document text."""
    from ..operators.sampling import training_shard_order

    chunks = _read_all_waves(spark, state_dir, "v2_chunks", fs=fs)
    buckets = _read_all_waves(spark, state_dir, "v2_buckets", fs=fs)
    corpus = _read_all_waves(spark, state_dir, "v2_corpus", fs=fs)

    counts = chunks.groupBy("chunk_digest").agg(F.count(F.lit(1)).alias("_n"))
    dup = F.sum(F.when(F.col("_n") > 1, 1).otherwise(0))
    stats = (
        chunks.join(counts, "chunk_digest")
        .groupBy(id_col)
        .agg(
            F.round(dup.cast("double") / F.count(F.lit(1)), 6).alias(
                "dup_fraction"
            )
        )
    )
    gated = stats.filter(F.col("dup_fraction") <= dup_threshold).select(id_col)

    bs = buckets.join(gated, id_col)
    bcounts = bs.groupBy("b").agg(
        F.sum("n").alias("_cc"),
        F.sum(F.when(F.col(lang_col) == target_lang, F.col("n")).otherwise(0)).alias(
            "_ct"
        ),
    )
    totals = bcounts.agg(F.sum("_cc").alias("_nc"), F.sum("_ct").alias("_nt"))
    weights = F.broadcast(
        bcounts.crossJoin(F.broadcast(totals)).select(
            "b",
            (
                ((F.col("_ct") + 1) * (F.col("_nc") + n_buckets)).cast("double")
                / ((F.col("_cc") + 1) * (F.col("_nt") + n_buckets)).cast("double")
            )
            .cast("decimal(18,9)")
            .alias("_ratio"),
        )
    )
    scored = (
        bs.join(weights, "b")
        .groupBy(id_col)
        .agg(
            F.round(
                F.sum(F.col("_ratio") * F.col("n")).cast("double")
                / F.sum("n"),
                6,
            ).alias("imp_weight")
        )
    )
    # guarded top-n (TakeOrderedAndProject below the
    # topKSortFallbackThreshold, blocked rank past it), never a
    # corpus-sized global rank window OR the silent full-sort fallback —
    # identical selection set: the (imp_weight DESC, id ASC) order is total
    picked = take_ordered(
        scored, [F.col("imp_weight").desc(), F.col(id_col).asc()], top_n
    ).select(id_col)
    survivors = corpus.join(picked, id_col)
    return training_shard_order(survivors, id_col=id_col, n_shards=n_shards)
