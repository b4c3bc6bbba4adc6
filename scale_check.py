#!/usr/bin/env python
"""Empirical scale check for the heavy operator families (ARCHITECTURE.md
§11 predicts linear-in-corpus cost for all five): runs each at sf0.01,
sf0.1, and a synthetic 10×-sf0.1 corpus (~sf1.0), records wall clock and
total shuffle-write bytes (the query's job group, read through
plan_audit's status reader), and fits the scaling exponent
wall ~ N^e between successive decades.

The synthetic sf1.0 corpus preserves DUPLICATE DENSITY — the quantity the
linear-cost argument depends on: each of the 10 replicas keeps sf0.1's
internal near-dup structure exactly, while a per-replica token suffix
(``w → w_rI``) makes cross-replica shingles disjoint, so candidate-pair
counts scale 10×, not 100× (naive replication would multiply every dup
cluster by 10 and square the pair stage by construction, measuring a
workload the generator never produces). Embeddings replicate with shifted
ids; the derived k = ceil(N/1024) caps per-cell pair work either way.

Usage: python scale_check.py  → one JSON line per (query, scale) + a
summary table; paste the summary into BASELINE.md.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import functions as F  # noqa: E402

from data_pipelines_cu_spark.queries import all_queries  # noqa: E402
from data_pipelines_cu_spark.session import get_spark  # noqa: E402
from plan_audit import run_grouped, stage_max  # noqa: E402

HEAVY = [
    "semantic_dedup_pairs",
    "semantic_dup_clusters",
    "curation_pipeline_pack",
    "simhash_near_dup_pairs",
    "ngram_containment_pairs",
    # round-4 corpus-wide additions
    "quality_dedup_survivors",
    "cdc_chunk_dup",
    "ann_ivfpq_topk",
    "nb_lang_predict",
    # round-5: the production-shaped composition end-to-end + the new
    # corpus-wide gram op
    "curation_v2_shards",
    "doc_ngram_novelty",
    "doc_lang_consistency",
    # round-6: PassJoin fuzzy self-join, triangle counting, PSI drift
    "fuzzy_part_name_pairs",
    "copurchase_triangles",
    "event_value_psi_drift",
    # round-6b: power-iteration PCA, bucketed range join, priority sample
    "embedding_pca_component",
    "event_session_concurrency",
    "doc_priority_sample",
    # round-7: the blocked-rank rewrites (previously corpus-sized global
    # row_number windows — single-task sorts at 100×)
    "customer_revenue_gini",
    "quality_calibrated_scores",
    "importance_weighted_docs",
    "customer_rfm_segments",
    # round-7b: the ER composite (PassJoin blocking + CC + survivor)
    "part_entity_resolution",
    # round-9: greedy contiguous sequence packing (applyInPandas per
    # shard — the Arrow fan-out cost is what the row measures) and its
    # per-window manifest (a (shard, seq) aggregate over the token
    # column carried through the Arrow fold — no corpus join-back)
    "greedy_pack_assignments",
    "pack_window_manifest",
    # round-10: BPE-encode → pack composite (the encode's explode +
    # vocabulary broadcast join feeding the shard fold — measures the
    # full tokenize-then-pack pipeline, not the packer alone)
    "bpe_pack_pipeline",
    # round-11: iterative graph op after the edge/rank checkpoint fix
    # (the row measures the one-shot edge derivation + 3 cached-table
    # iterations — previously the 4-table join compiled per iteration)
    "nation_trade_pagerank",
    # round-11: the tokenize-once TV fix (single corpus scan into a
    # vocab×sources checkpoint feeding the four-consumer tail)
    "source_token_tv_drift",
    # round-12: the IVF lifecycle gate entry (build → upsert wave →
    # compact → survivor read, a fresh index per run — the row measures
    # the full serving-maintenance cycle, dominated by the three
    # assign/compact passes over the vector table)
    "ivf_lifecycle_survivors",
    # round-12: the detector-4 tf-checkpoint family — one corpus
    # tokenize into a compressed (doc, term, count) / digest table that
    # every downstream stat rereads (the rows evidence the
    # materialize-vs-recompute doctrine at 10x)
    "doc_tfidf_top_terms",
    "doc_bigram_likelihood",
    "doc_longest_dup_span",
]

# Optional subset filter: SPARK_GRAFT_SCALE_ONLY="a,b" runs just those.
_only = os.environ.get("SPARK_GRAFT_SCALE_ONLY")
if _only:
    HEAVY = [n for n in HEAVY if n in {s.strip() for s in _only.split(",")}]

SF1_DIR = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/scale_sf1")


def build_sf1(spark, src="/root/testdata/sf0.1", out=SF1_DIR) -> None:
    if os.path.exists(f"{out}/_BUILT"):
        build_sf1_custorders(spark, src, out)  # round-7 add-on tables
        build_sf1_dims(spark, src, out)  # round-11 add-on tables
        return
    docs = spark.read.parquet(f"{src}/documents.parquet")
    emb = spark.read.parquet(f"{src}/embeddings.parquet")
    n_docs = docs.count()
    n_emb = emb.count()
    doc_parts = []
    emb_parts = []
    for i in range(10):
        if i == 0:
            doc_parts.append(docs)
        else:
            doc_parts.append(
                docs.select(
                    (F.col("doc_id") + i * n_docs).alias("doc_id"),
                    # suffix every token: replica shingle spaces are disjoint
                    F.regexp_replace("text", r"(\S+)", f"$1_r{i}").alias("text"),
                    "lang",
                    "source",
                    "n_chars",
                )
            )
        emb_parts.append(
            emb.select(
                (F.col("vec_id") + i * n_emb).alias("vec_id"), "embedding", "label"
            )
        )
    d = doc_parts[0]
    for p in doc_parts[1:]:
        d = d.unionByName(p)
    e = emb_parts[0]
    for p in emb_parts[1:]:
        e = e.unionByName(p)
    d.repartition(32).write.mode("overwrite").parquet(f"{out}/documents.parquet")
    e.repartition(32).write.mode("overwrite").parquet(f"{out}/embeddings.parquet")
    # Relational replicas for the non-document heavy ops. Same density
    # discipline: keys shift by a disjoint 1e9 stride per replica so
    # within-replica structure (co-order baskets, brand blocks, per-user
    # streams) is preserved exactly and cross-replica joins are
    # impossible. Part names apply a per-replica CAESAR SHIFT (a
    # character bijection): within-replica edit distances — and therefore
    # the true pair set — are preserved exactly, every cross-replica
    # character differs, and no PassJoin segment can collide across
    # replicas, so candidate AND verified pair counts scale 10×. (Word
    # tags were measured wrong twice: a 1-char tag put every 2-word name
    # at distance exactly 2 from its clones — 12.1M bogus pairs — and
    # even a 2-char tag left tag-free short segments whose cross-replica
    # collisions inflated the candidate join 5×.)
    part = spark.read.parquet(f"{src}/part.parquet")
    li = spark.read.parquet(f"{src}/lineitem.parquet")
    ev = spark.read.parquet(f"{src}/events.parquet")
    STRIDE = 1_000_000_000
    p_parts, l_parts, e_parts = [], [], []
    for i in range(10):
        alpha = "abcdefghijklmnopqrstuvwxyz"
        shifted = alpha[i:] + alpha[:i]
        p_parts.append(
            part.select(
                (F.col("p_partkey") + i * STRIDE).alias("p_partkey"),
                F.translate("p_name", alpha, shifted).alias("p_name"),
                *[c for c in part.columns if c not in ("p_partkey", "p_name")],
            )
        )
        l_parts.append(
            li.select(
                (F.col("l_orderkey") + i * STRIDE).alias("l_orderkey"),
                (F.col("l_partkey") + i * STRIDE).alias("l_partkey"),
                *[c for c in li.columns if c not in ("l_orderkey", "l_partkey")],
            )
        )
        # ts shifts by 40 days per replica (the raw column is int64
        # nanos): 10× data = 10× HISTORY, not 10× temporal density —
        # same-window replication would square every time-containment
        # join's true output (measured: session-concurrency pairs ×100)
        if dict(ev.dtypes)["ts"] == "bigint":  # raw int64 nanos
            shifted_ts = F.col("ts") + i * 40 * 86_400 * 1_000_000_000
        else:
            shifted_ts = F.col("ts") + F.expr(f"INTERVAL {i * 40} DAYS")
        e_parts.append(
            ev.select(
                (F.col("event_id") + i * STRIDE).alias("event_id"),
                (F.col("user_id") + i * STRIDE).alias("user_id"),
                shifted_ts.alias("ts"),
                *[
                    c
                    for c in ev.columns
                    if c not in ("event_id", "user_id", "ts")
                ],
            )
        )
    for parts, name in ((p_parts, "part"), (l_parts, "lineitem"), (e_parts, "events")):
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        u.repartition(32).write.mode("overwrite").parquet(f"{out}/{name}.parquet")
    Path(f"{out}/_BUILT").write_text("ok\n")
    build_sf1_custorders(spark, src, out)


def build_sf1_custorders(spark, src="/root/testdata/sf0.1", out=SF1_DIR) -> None:
    """customer/orders replicas (round 7, for the gini/RFM family):
    same disjoint-stride discipline — every key shifts by 1e9 per
    replica, so per-customer revenue distributions (and therefore the
    rank/decile structure the blocked rank sorts) replicate exactly 10×
    with zero cross-replica joins."""
    if os.path.exists(f"{out}/_BUILT_CUSTORD"):
        return
    cust = spark.read.parquet(f"{src}/customer.parquet")
    orders = spark.read.parquet(f"{src}/orders.parquet")
    STRIDE = 1_000_000_000
    c_parts, o_parts = [], []
    for i in range(10):
        c_parts.append(
            cust.select(
                (F.col("c_custkey") + i * STRIDE).alias("c_custkey"),
                *[c for c in cust.columns if c != "c_custkey"],
            )
        )
        o_parts.append(
            orders.select(
                (F.col("o_orderkey") + i * STRIDE).alias("o_orderkey"),
                (F.col("o_custkey") + i * STRIDE).alias("o_custkey"),
                *[
                    c
                    for c in orders.columns
                    if c not in ("o_orderkey", "o_custkey")
                ],
            )
        )
    for parts, name in ((c_parts, "customer"), (o_parts, "orders")):
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        u.repartition(32).write.mode("overwrite").parquet(f"{out}/{name}.parquet")
    Path(f"{out}/_BUILT_CUSTORD").write_text("ok\n")
    build_sf1_dims(spark, src, out)


def build_sf1_dims(spark, src="/root/testdata/sf0.1", out=SF1_DIR) -> None:
    """supplier/nation VERBATIM copies (round 11, for the pagerank row):
    dimension tables do not grow with corpus history — 10× facts over
    the same 25-nation graph is the honest scale model (a 250-node
    replica graph would measure a workload that never exists). Key
    alignment: lineitem replicas keep l_suppkey unshifted, so every
    replica's facts join the one supplier copy; c_nationkey/s_nationkey
    stay 0-24 and the edge aggregate still lands on the 25×25 key
    space with 10× weights."""
    if os.path.exists(f"{out}/_BUILT_DIMS"):
        return
    for name in ("supplier", "nation"):
        spark.read.parquet(f"{src}/{name}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{out}/{name}.parquet")
    Path(f"{out}/_BUILT_DIMS").write_text("ok\n")


def main() -> None:
    spark = get_spark(
        "scale-check",
        **{"spark.ui.enabled": "true", "spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    build_sf1(spark)

    queries = all_queries()
    scales = [
        ("sf0.01", "/root/testdata/sf0.01", 0.01),
        ("sf0.1", "/root/testdata/sf0.1", 0.1),
        ("sf1.0*", SF1_DIR, 1.0),
    ]
    results: dict[str, dict[str, dict]] = {}
    # warm
    queries["gopher_quality_gate"].fn(spark, "/root/testdata/sf0.01").count()
    for name in HEAVY:
        results[name] = {}
        for label, path, _ in scales:

            def timed(fn=queries[name].fn, path=path) -> float:
                start = time.perf_counter()
                fn(spark, path).write.format("noop").mode("overwrite").save()
                return round(time.perf_counter() - start, 2)

            wall, stages = run_grouped(spark, timed)
            sh = sum(
                st["shuffleWriteBytes"]
                for st in stages
                if st["status"] == "COMPLETE"
            )
            rec = {"wall_s": wall, "shuffle_mb": round(sh / 1e6, 1)}
            if label == "sf1.0*":
                # fat-task detector: a corpus-sized single task (global
                # sort, giant broadcast build) shows up here long before
                # it dominates wall clock at test scale
                worst = stage_max(stages, "executorRunTime") or 0.0
                rec["max_task_s"] = round(worst / 1000.0, 2)
            results[name][label] = rec
            print(json.dumps({"query": name, "scale": label, **rec}),
                  flush=True)

    print("\n| query | sf0.01 wall | sf0.1 wall | sf1.0* wall | exp 0.01→0.1 | exp 0.1→1.0 | sf1.0* shuffle MB | sf1.0* max task s |")
    print("|---|---|---|---|---|---|---|---|")
    for name in HEAVY:
        r = results[name]
        w = [r[s]["wall_s"] for s, _, _ in scales]
        e1 = math.log10(w[1] / w[0]) if w[0] > 0 else float("nan")
        e2 = math.log10(w[2] / w[1]) if w[1] > 0 else float("nan")
        print(
            f"| {name} | {w[0]} | {w[1]} | {w[2]} | {e1:.2f} | {e2:.2f} "
            f"| {r['sf1.0*']['shuffle_mb']} "
            f"| {r['sf1.0*'].get('max_task_s', '—')} |"
        )


if __name__ == "__main__":
    main()
