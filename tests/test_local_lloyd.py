"""The local Lloyd gate (similarity._small_corpus): a corpus under the gate
is collected once and refined on the driver, and its centroids must be
bit-identical to the per-round Spark loop's. The distributed loop is
forced by setting the gate's constants to 0, the way
tests/test_distributed_kmeans.py forces the large-k path with a tiny
``distributed_threshold``."""

from __future__ import annotations

import contextlib

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipelines_cu_spark.operators import similarity as sim

from .util import assert_matches_oracle, jobs_of

SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)


@contextlib.contextmanager
def _distributed():
    """Close the local gate: every Lloyd caller runs the Spark loop."""
    saved = sim.LOCAL_LLOYD_MAX_ROWS, sim.LOCAL_LLOYD_MAX_WORK
    sim.LOCAL_LLOYD_MAX_ROWS = sim.LOCAL_LLOYD_MAX_WORK = 0
    try:
        yield
    finally:
        sim.LOCAL_LLOYD_MAX_ROWS, sim.LOCAL_LLOYD_MAX_WORK = saved


@contextlib.contextmanager
def _count_local_finishes():
    """Count the Lloyd runs the driver kernel finished (not declined)."""
    real = sim._lloyd_local
    hits = []

    def spy(*args):
        out = real(*args)
        hits.append(out is not None)
        return out

    sim._lloyd_local = spy
    try:
        yield hits
    finally:
        sim._lloyd_local = real


def _frame(spark, vectors, first_id=0):
    rows = [(first_id + i, [float(x) for x in v]) for i, v in enumerate(vectors)]
    return spark.createDataFrame(rows, SCHEMA)


def _both(corpus, k, iters=2, **kw):
    """(local, distributed) centroid rows of the shared trainer."""
    with _count_local_finishes() as hits:
        local = sim._train_centroids(corpus, k, iters, "vec_id", "embedding", **kw)
    if iters > 0 and corpus.count() > 0:
        assert hits == [True], "the local finish did not run"
    with _distributed():
        dist = sim._train_centroids(corpus, k, iters, "vec_id", "embedding", **kw)
    return local, dist


def _bits(rows):
    """Centroid rows with every float as its IEEE bit pattern (so -0.0,
    NaN and last-bit differences all count)."""
    return [
        (c, np.asarray(v, dtype=np.float64).view(np.uint64).tolist())
        for c, v in rows
    ]


def _assert_identical(local, dist):
    assert _bits(local) == _bits(dist)


_component = st.one_of(
    st.floats(
        min_value=-1e3, max_value=1e3, allow_nan=False, allow_infinity=False,
        width=32,
    ),
    st.sampled_from([0.0, 1.0, -1.0, 0.5]),  # ties, duplicates, zeros
)


@st.composite
def _corpora(draw):
    dim = draw(st.integers(min_value=1, max_value=5))
    vectors = draw(
        st.lists(st.lists(_component, min_size=dim, max_size=dim), max_size=30)
    )
    k = draw(st.integers(min_value=1, max_value=5))
    iters = draw(st.integers(min_value=0, max_value=3))
    return vectors, k, iters


@given(case=_corpora())
@settings(
    max_examples=12,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_local_rounds_bit_identical_to_spark_rounds(spark, case):
    vectors, k, iters = case
    _assert_identical(*_both(_frame(spark, vectors), k, iters))


@pytest.mark.parametrize(
    "vectors,k",
    [
        # ties and duplicates: seeds 0 and 1 are the same vector, so cell 1
        # loses every tie to cell 0 and empties after the first round
        ([[1, 0], [1, 0], [0, 1], [1, 1], [1, 1], [-1, 0], [0.5, 0.5]], 3),
        # a zero vector scores NaN against every centroid, and a zero seed
        # scores NaN against every vector: NaN sorts last on both paths
        ([[0, 0, 0], [1, 2, 3], [3, 2, 1], [0, 0, 0], [-1, 0, 1]], 2),
        ([[1, 2, 3], [0, 0, 0], [3, 2, 1], [-1, 0, 1]], 2),
    ],
    ids=["ties-duplicates-empty-cell", "zero-vector", "zero-seed"],
)
def test_fixed_cases_bit_identical(spark, vectors, k):
    _assert_identical(*_both(_frame(spark, vectors), k, iters=3))


def test_duplicate_seed_cell_drops_out(spark):
    """The duplicate-seed case really empties a cell (so the case above
    pins the drop-out rule on both paths)."""
    corpus = _frame(spark, [[1, 0], [1, 0], [0, 1], [1, 1], [1, 1], [-1, 0]])
    local, _ = _both(corpus, 3, iters=2)
    assert [c for c, _ in local] == [0, 2]


def test_zero_iterations_returns_the_sorted_seeds(spark):
    corpus = _frame(spark, [[3, 1], [1, 2], [0, 5]])
    with _count_local_finishes() as hits:
        local = sim._train_centroids(corpus, 2, 0, "vec_id", "embedding")
    assert hits == []  # no corpus collect when no round runs
    with _distributed():
        dist = sim._train_centroids(corpus, 2, 0, "vec_id", "embedding")
    assert local == dist == [(0, [3.0, 1.0]), (1, [1.0, 2.0])]


def test_empty_corpus_trains_nothing(spark):
    local, dist = _both(_frame(spark, []), 4)
    assert local == dist == []


def test_multi_block_corpus_bit_identical(spark):
    """More rows than one driver-side block: the blocks are scored on
    several threads and their winners must line up with the rows."""
    rng = np.random.default_rng(2)
    n = 2 * sim._LOCAL_BLOCK_ROWS + 77
    corpus = _frame(spark, rng.normal(size=(n, 8)).astype(np.float32))
    _assert_identical(*_both(corpus, 6, iters=3))


def test_retrain_survivor_seed_frame(spark):
    """A retrain passes its own seed frame (the n lowest surviving ids,
    here ids 100..): the seeds keep their own collect and the rounds still
    run on the driver."""
    rng = np.random.default_rng(7)
    corpus = _frame(spark, rng.normal(size=(40, 6)).astype(np.float32), 100)
    seeds = corpus.orderBy("vec_id").limit(4).select("vec_id", "embedding")
    local, dist = _both(corpus, 4, seeds=seeds)
    _assert_identical(local, dist)
    assert [c for c, _ in local] == [100, 101, 102, 103]


def test_large_sums_need_the_exact_decimal_to_double_rule(spark):
    """Cell sums of 10^4-scale components exceed 2^53 unscaled: there the
    naive float(sum) / 10^12 is rounded twice and misses Spark's correctly
    rounded decimal → double cast on some component."""
    rng = np.random.default_rng(3)
    vecs = (4000 + 4000 * rng.random((60, 16))).astype(np.float32)
    vecs[:, 0] *= np.where(rng.random(60) < 0.5, -1, 1)
    corpus = _frame(spark, vecs)
    local, dist = _both(corpus, 3)
    _assert_identical(local, dist)

    (_, U), _ = sim._small_corpus(corpus, "embedding", 3)
    labels = np.zeros(len(vecs), dtype=np.int64)
    sums = U.sum(axis=0)
    assert int(np.abs(sums).max()) >= 2**53
    naive = [(float(s) / 1e12) / len(vecs) for s in sums]
    exact = sim._exact_cell_means(labels, U)[0][1]
    assert naive != exact


@pytest.mark.parametrize(
    "scale", [3e6, 1e9], ids=["int64-sum-overflow", "int64-element-overflow"]
)
def test_int64_overflow_takes_the_exact_integer_path(spark, scale):
    """At 3e6 each unscaled element fits int64 but a two-member sum does
    not; at 1e9 the elements themselves do not fit. Both must sum as exact
    Python integers and still match the Spark rounds."""
    rng = np.random.default_rng(11)
    vecs = (scale * (1 + rng.random((12, 4)))).astype(np.float32)
    vecs[::3] *= -1
    corpus = _frame(spark, vecs)
    _assert_identical(*_both(corpus, 2))
    (_, U), _ = sim._small_corpus(corpus, "embedding", 2)
    peak = max(abs(int(x)) for x in U.ravel())
    assert peak * len(vecs) >= 2**63


def test_exact_means_match_spark_decimal_arithmetic(spark):
    """_exact_cell_means against Spark's own DECIMAL(38,12) sum, cast and
    division on hand-built unscaled values around 2^53, 2^63 and 10^30."""
    cases = [
        [2**53 + 1, 2**53 + 3, 7],
        [2**62, 2**62, 2**62 - 1],
        [10**30 + 12345, -(10**29) + 1, 999_999_999_999],
        [-(2**60) - 5, 3, 2**61 + 17],
    ]
    for vals in cases:
        U = np.array([[v] for v in vals], dtype=object)
        text = [
            f"{'-' if v < 0 else ''}{abs(v) // 10**12}.{abs(v) % 10**12:012d}"
            for v in vals
        ]
        dec = F.col("s").cast("decimal(38,12)")
        want = (
            spark.createDataFrame([(t,) for t in text], "s string")
            .select((F.sum(dec).cast("double") / F.count(dec)).alias("m"))
            .first()["m"]
        )
        got = sim._exact_cell_means(np.zeros(len(vals), dtype=np.int64), U)
        assert got == [(0, [want])], vals


def test_gate_sends_a_large_corpus_to_spark(spark, monkeypatch):
    """More rows than the gate's bound: the bounded collect says no and the
    distributed loop runs (same centroids)."""
    rng = np.random.default_rng(5)
    corpus = _frame(spark, rng.normal(size=(30, 3)).astype(np.float32))
    local, _ = _both(corpus, 3)
    monkeypatch.setattr(sim, "LOCAL_LLOYD_MAX_ROWS", 29)
    with _count_local_finishes() as hits:
        gated = sim._train_centroids(corpus, 3, 2, "vec_id", "embedding")
    assert hits == []
    assert _bits(gated) == _bits(local)
    monkeypatch.setattr(sim, "LOCAL_LLOYD_MAX_ROWS", 30)
    monkeypatch.setattr(sim, "LOCAL_LLOYD_MAX_WORK", 30 * 3 * 3 - 1)
    assert sim._small_corpus(corpus, "embedding", 3) == (None, None)
    monkeypatch.setattr(sim, "LOCAL_LLOYD_MAX_WORK", 30 * 3 * 3)
    monkeypatch.setattr(sim, "LOCAL_LLOYD_MAX_VALUES", 30 * 3 - 1)
    assert sim._small_corpus(corpus, "embedding", 3) == (None, None)
    monkeypatch.setattr(sim, "LOCAL_LLOYD_MAX_VALUES", 30 * 3)
    assert sim._small_corpus(corpus, "embedding", 3)[0] is not None


# --- job budgets -------------------------------------------------------------
# Parent (per-round loop) → local finish, measured at sf0.001:
# embedding_kmeans_clusters 11 → 3 eager jobs (count: 2, gate collect: 1),
# cosine_topk_ivf 9 → 1 (the gate collect).


def test_embedding_kmeans_clusters_eager_job_budget(spark, sf_dir):
    from data_pipelines_cu_spark.queries import all_queries

    q = all_queries()["embedding_kmeans_clusters"]
    q.fn(spark, sf_dir)  # the catalog read is not the query's eager phase
    assert jobs_of(spark, lambda: q.fn(spark, sf_dir)) <= 3


def test_cosine_topk_ivf_eager_job_budget(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    assert jobs_of(spark, lambda: sim.cosine_topk_ivf(emb, queries)) <= 1


# --- oracle coverage of the distributed loop ---------------------------------


@pytest.mark.parametrize(
    "name", ["embedding_kmeans_clusters", "ann_ivf_topk", "ann_ivfpq_topk"]
)
def test_distributed_lloyd_matches_oracle(spark, duck, sf_dir, name):
    """At fixture scale every Lloyd caller takes the local finish; this
    keeps the per-round Spark loop hash-checked against DuckDB."""
    from data_pipelines_cu_spark.queries import all_queries

    q = all_queries()[name]
    with _distributed(), _count_local_finishes() as hits:
        df = q.fn(spark, sf_dir)
        assert_matches_oracle(df, duck, q.oracle)
    assert hits == []


@pytest.mark.parametrize("gate", ["driver", "spark"])
def test_empty_seed_set_gives_an_empty_result(spark, gate):
    """A corpus with no id below n has no seed vectors: training gives no
    centroids and both operators an empty result, on the driver finish
    and on the Spark loop alike (the centroid matrix of zero rows used to
    crash the cosine kernel with an IndexError)."""
    rng = np.random.default_rng(11)
    corpus = _frame(spark, rng.normal(size=(40, 4)), first_id=1000)
    with _distributed() if gate == "spark" else contextlib.nullcontext():
        assert sim._train_centroids(corpus, 4, 2, "vec_id", "embedding") == []
        assert sim.kmeans_clusters(corpus, n_clusters=4).count() == 0
        assert sim.cosine_topk_ivf(corpus, corpus, n_centroids=4).count() == 0
