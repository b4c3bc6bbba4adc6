"""Connected-components dedup clustering and Arrow ANN parity."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_pipelines_cu_spark.operators import dedup as dd
from data_pipelines_cu_spark.operators import similarity as sim


def test_dedup_clusters_chain_and_islands(spark):
    # chain 1-2-3 (transitive closure), island pair 10-11, singleton edge 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21)], ["id_a", "id_b"]
    )
    out = {r.doc_id: r.canonical_id for r in dd.dedup_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_dedup_clusters_deep_chain_converges(spark):
    # path graph 0-1-2-...-9: worst-case diameter for label propagation
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], ["id_a", "id_b"]
    )
    out = {r.doc_id: r.canonical_id for r in dd.dedup_clusters(pairs).collect()}
    assert set(out.values()) == {0}


def test_dedup_clusters_raises_when_not_converged(spark, monkeypatch):
    """Labels that have not reached their fixpoint are wrong components
    (one round on an 8-node chain leaves it split), so running out of
    rounds raises instead of returning them."""
    import pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(7)], ["id_a", "id_b"]
    )
    monkeypatch.setattr(dd, "CC_MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="not converged"):
        dd.dedup_clusters(pairs)


def test_near_dup_survivors_greedy(spark):
    docs = spark.createDataFrame([(i, f"d{i}") for i in range(5)], ["doc_id", "x"])
    pairs = spark.createDataFrame([(0, 3), (1, 4)], ["id_a", "id_b"])
    kept = {r.doc_id for r in dd.near_dup_survivors(docs, pairs).collect()}
    assert kept == {0, 1, 2}


def test_arrow_ann_matches_column_algebra(spark, tables):
    em = tables["embeddings"]
    queries = em.filter(F.col("vec_id") < 3)
    a = {
        (r.query_id, r.rank): (r.neighbor_id, r.cos_sim)
        for r in sim.cosine_topk(em, queries, k=4).collect()
    }
    b = {
        (r.query_id, r.rank): (r.neighbor_id, r.cos_sim)
        for r in sim.cosine_topk_arrow(em, queries, k=4).collect()
    }
    assert a == b


def test_dedup_clusters_long_chain_needs_pointer_doubling(spark):
    # path graph of 60 nodes: plain one-hop min-label propagation needs 59
    # rounds (> CC_MAX_ROUNDS=20); the pointer-doubling step collapses it in
    # O(log n) rounds. Regression guard for the doubling.
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(59)], ["id_a", "id_b"]
    )
    out = {r.doc_id: r.canonical_id for r in dd.dedup_clusters(pairs).collect()}
    assert set(out.values()) == {0}


def test_kmeans_derived_k_bounds_cluster_population(spark, tables):
    """SemDeDup's scale contract: with k derived as ceil(N/target), cell
    population stays near the target at ANY corpus size — the property
    that keeps the quadratic within-cell pair stage linear overall. On the
    fixture the lowest-id-seeded Lloyd assignment must produce exactly
    ceil(N/target) cells, none more than 2x the target."""
    from data_pipelines_cu_spark.operators.similarity import (
        derived_n_clusters,
        kmeans_clusters,
    )

    em = tables["embeddings"]
    n = em.count()
    target = 64
    k = derived_n_clusters(n, target)
    assert k == -(-n // target)
    sizes = [
        r["count"]
        for r in kmeans_clusters(em, target_cluster_size=target)
        .groupBy("cluster")
        .count()
        .collect()
    ]
    assert len(sizes) == k
    assert max(sizes) <= 2 * target
    # derivation arithmetic at production scale: 1B vectors / 1024 ≈ 1M cells
    assert derived_n_clusters(1_000_000_000, 1024) == 976_563
