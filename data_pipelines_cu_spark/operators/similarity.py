"""Similarity search over embedding columns (north-star set).

Brute-force cosine top-k as the correctness baseline and a sign-LSH
(random-hyperplane-style) bucketed variant as the scale path. Dot products
are sequential left-to-right double folds (F.aggregate over zip_with) so the
DuckDB oracle — a list comprehension with the same order — computes the
bit-identical value.

At 100 TB the brute-force path is a broadcast of the (small) query set
against a partitioned corpus scan — embarrassingly parallel, no shuffle
until the final per-query top-k; the LSH path prunes the corpus to matching
buckets first.

Every ANN and k-means operator below is assembled from one copy of each
shared step: ``_cosine_pairs`` (broadcast-query scoring), ``_rank_neighbors``
(per-query top-k, score DESC then neighbor id ASC), ``_lsh_topk`` (single-
and multi-probe bucket LSH), ``_arrow_topk`` (the collected-query Arrow
brute force around either cosine kernel), ``_train_centroids`` (seed collect
+ Lloyd refinement, on the driver for a corpus under the local Lloyd gate
of ``_small_corpus``), ``_cell_means`` (the decimal per-cell mean of a Lloyd
round), ``_index_codec`` (which codec a persisted index tree is — float,
SQ8 or PQ — with its encoder and decoder) and ``_write_index`` (assign,
encode and write one wave of a persisted index).
"""

from __future__ import annotations

import functools
import os
from typing import Callable, NamedTuple

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .aggregates import decimal_avg
from .windows import topk_per_group
from .materialize import lineage_cut


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double precision."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    sq = F.transform(a, lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL when either vector has zero norm (cosine is
    undefined there — without the guard, ANSI mode turns a single zero
    vector anywhere in the corpus into a job-killing DIVIDE_BY_ZERO; the
    hash-feature path filters nrm2 = 0 for the same reason)."""
    den = norm(a) * norm(b)
    return F.when(den > 0, dot(a, b) / den)




def drop_null_vectors(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Filter NULL vectors at operator entry: cosine is undefined on them
    (the zero-norm guard's sibling) and a None row inside an Arrow batch
    or a collected seed/query set crashes the numpy kernels with a
    (0,)-dim axis error. Found by the all-NULL-column sweep."""
    return df.filter(F.col(vec_col).isNotNull())


def _cosine_pairs(
    q: DataFrame, c: DataFrame, on: str | None = None, dedup: bool = False
) -> DataFrame:
    """(query_id, neighbor_id, cos_sim) for the broadcast query side ``q``
    (query_id, qv) against the corpus side ``c`` (neighbor_id, cv): a
    cross join when ``on`` is None, else an equi-join on the shared
    bucket/cell column. Self-matches drop; ``dedup`` collapses a pair
    reached through several probed cells."""
    q = F.broadcast(q)
    pairs = (
        (q.crossJoin(c) if on is None else q.join(c, on))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos_sim"),
        )
    )
    return pairs.dropDuplicates(["query_id", "neighbor_id"]) if dedup else pairs


def _rank_neighbors(
    scored: DataFrame,
    score_col: str = "cos_sim",
    k: int = 5,
    cols: tuple[str, ...] = (),
) -> DataFrame:
    """THE neighbour ranking rule of every top-k operator: per query_id,
    ``score_col`` DESC then neighbor_id ASC (deterministic ties), top
    ``k`` by row_number. Output: query_id, neighbor_id, score_col, any
    extra ``cols``, rank."""
    return topk_per_group(
        scored,
        ["query_id"],
        [F.col(score_col).desc(), F.col("neighbor_id").asc()],
        k=k,
        rank_col="rank",
    ).select("query_id", "neighbor_id", score_col, *cols, "rank")


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k: broadcast the query set, score every
    (query, corpus) pair, per-query top-k via row_number. Excludes
    self-matches. Deterministic ties: (cos DESC, neighbor id ASC)."""
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    return _rank_neighbors(_cosine_pairs(q, c), k=k)


def sign_lsh_bucket(vec: Column, n_bits: int = 8) -> Column:
    """Axis-aligned sign bucket: the sign pattern of the first n_bits
    components. Kept as the degenerate baseline — on real embeddings the
    leading dimensions are correlated, so these buckets skew (see
    tests/test_operators.py bucket-balance test); production bucketing is
    ``random_hyperplane_bucket`` below."""
    bits = [
        F.when(F.element_at(vec, i + 1) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for i in range(n_bits)
    ]
    return F.concat(*bits)


def seeded_hyperplanes(n_bits: int = 8, dim: int = 64, seed: int = 7) -> list[list[float]]:
    """Deterministic signed-random-projection hyperplanes: component (i, j)
    is ±1.0 from the parity of md5(seed:i:j) — reproducible across engines
    and sessions with no RNG state, and ±1.0 products are exact in IEEE
    doubles, so bucket bits are bit-stable (the repo's md5-derived-constant
    discipline, cf. operators/dedup.py affine hashes)."""
    import hashlib  # noqa: PLC0415

    return [
        [
            1.0
            if hashlib.md5(f"{seed}:{i}:{j}".encode()).digest()[0] % 2 == 0
            else -1.0
            for j in range(dim)
        ]
        for i in range(n_bits)
    ]


def random_hyperplane_bucket(
    vec: Column, planes: list[list[float]] | None = None
) -> Column:
    """Signed-random-projection LSH bucket: bit i = sign(<vec, plane_i>),
    planes from ``seeded_hyperplanes``. Unlike the axis-aligned pattern this
    mixes ALL dimensions into every bit, so correlated leading dims can't
    skew bucket occupancy. The projection is a left-to-right fold of exact
    ±component terms — bit-identical in any engine evaluating IEEE doubles
    left-associatively (the DuckDB twin is ``hyperplane_bucket_sql``)."""
    if planes is None:
        planes = seeded_hyperplanes()
    bits = []
    for plane in planes:
        # zip_with + aggregate (the same sequential fold as the dot/cosine
        # kernels): a compact higher-order expression, NOT an unrolled
        # 64-term Add tree — unrolling blows up Catalyst planning time and
        # falls out of codegen entirely (measured 10-50s/query at sf0.1).
        weights = F.array(*[F.lit(w) for w in plane])
        prods = F.zip_with(vec, weights, lambda x, w: x.cast("double") * w)
        proj = F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)
        bits.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def _seq_cosine_matrix(V, C):
    """(n,d) × (m,d) cosine matrix with SEQUENTIAL per-dimension
    accumulation: acc_j+1 = acc_j + v_j*c_j, vectorized over pairs but
    folded left-to-right over dims — the same IEEE op order as the
    F.aggregate/zip_with column kernel and DuckDB's list_sum
    comprehension, so scores are bit-identical to both while running at
    numpy speed (one fused mul+add per dim instead of one interpreted
    lambda per element)."""
    import numpy as np  # noqa: PLC0415

    n, d = V.shape
    m = C.shape[0]
    dot = np.zeros((n, m))
    nv = np.zeros(n)
    nc = np.zeros(m)
    for j in range(d):
        dot += V[:, j : j + 1] * C[:, j]
        nv += V[:, j] * V[:, j]
        nc += C[:, j] * C[:, j]
    return dot / (np.sqrt(nv)[:, None] * np.sqrt(nc)[None, :])


def with_hyperplane_buckets(
    df: DataFrame,
    planes: list[list[float]] | None = None,
    vec_col: str = "embedding",
    out_col: str = "bucket",
) -> DataFrame:
    """Arrow fast path for ``random_hyperplane_bucket``: per-batch numpy
    projection with j-sequential accumulation (bit-identical to the column
    expression and the SQL twin), ~50× the throughput of the interpreted
    higher-order fold — the variant a 100 TB corpus scan uses. Appends
    ``out_col`` to ``df`` unchanged."""
    df = drop_null_vectors(df, vec_col)
    import numpy as np  # noqa: PLC0415
    from pyspark.sql import types as T  # noqa: PLC0415

    if planes is None:
        planes = seeded_hyperplanes()
    P = np.array(planes, dtype=np.float64)  # (m, d)

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(list(pdf[vec_col]), dtype=np.float64)
            acc = np.zeros((len(pdf), P.shape[0]))
            for j in range(P.shape[1]):
                acc += V[:, j : j + 1] * P[:, j]
            bits = np.where(acc >= 0, "1", "0")
            out = pdf.copy()
            out[out_col] = ["".join(r) for r in bits]
            yield out

    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.StringType())]
    )
    return df.mapInPandas(fn, schema=schema)


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Bucketed ANN: only corpus vectors in the query's LSH bucket are
    scored. Recall < 1 by design; the bucket join replaces the cross join so
    cost scales with bucket occupancy (corpus/2^bits per query). Buckets are
    seeded random hyperplanes (signed random projections), not axis-aligned
    sign patterns — balanced occupancy on correlated embedding dims. Corpus
    buckets go through the Arrow kernel (with_hyperplane_buckets); the tiny
    query side uses the equivalent column expression."""
    return _lsh_topk(corpus, queries, k, n_bits, id_col, vec_col, multiprobe=False)


def _lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    n_bits: int,
    id_col: str,
    vec_col: str,
    multiprobe: bool,
) -> DataFrame:
    """Shared bucket-LSH body: Arrow-bucketed corpus, column-expression
    query buckets (the query's own bucket, or with ``multiprobe`` its
    1 + n_bits Hamming-radius-1 probe set), bucket equi-join, rank."""
    planes = seeded_hyperplanes(n_bits=n_bits)
    bucket = random_hyperplane_bucket(F.col(vec_col), planes)
    if multiprobe:
        bucket = F.explode(probe_buckets(bucket, n_bits))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        bucket.alias("bucket"),
    )
    c = with_hyperplane_buckets(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")),
        planes,
        vec_col="cv",
    )
    return _rank_neighbors(_cosine_pairs(q, c, on="bucket"), k=k)


def probe_buckets(bucket: Column, n_bits: int = 8) -> Column:
    """Multi-probe set for a bucket key: the bucket itself plus every
    single-bit flip (Hamming radius 1) — 1 + n_bits probes. Near neighbors
    that land one hyperplane-sign away from the query become reachable,
    the standard recall fix for sign-LSH without growing bucket size."""
    variants = [bucket]
    for i in range(n_bits):
        flipped = F.when(
            F.substring(bucket, i + 1, 1) == "1", F.lit("0")
        ).otherwise(F.lit("1"))
        variants.append(
            F.concat(
                F.substring(bucket, 1, i),
                flipped,
                F.substring(bucket, i + 2, n_bits - i - 1),
            )
        )
    return F.array(*variants)


def cosine_topk_lsh_multiprobe(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe bucketed ANN: each query scores the corpus of its own
    bucket AND the n_bits single-flip neighbor buckets (9 probes at 8
    bits). Cost ≈ (1+n_bits) × single-probe — still bucket-local, never a
    cross join — for recall close to brute force on near-threshold pairs.
    Probes are distinct buckets and a corpus vector lives in exactly one,
    so no pair dedup is needed."""
    return _lsh_topk(corpus, queries, k, n_bits, id_col, vec_col, multiprobe=True)


def _blas_cosine_kernel(q_mat):
    """BLAS cosine kernel for :func:`_arrow_topk`: queries normalized once
    on the driver, each corpus batch normalized and scored in one matmul.
    Zero-norm guard (the numpy twin of the column-side try_divide): a zero
    vector's row normalizes to all-zeros instead of NaN, so its cosines
    are 0 and it can never rank into anyone's top-k with NaN ordering
    artifacts. Dividing by where(norm>0, norm, 1) costs one pass over the
    NORM VECTOR — the masked np.divide(out=zeros, where=...) form costs a
    full-matrix allocation + mask application per batch."""
    import numpy as np  # noqa: PLC0415

    qd = np.linalg.norm(q_mat, axis=1, keepdims=True)
    q_norm = q_mat / np.where(qd > 0, qd, 1.0)

    def sims(c_mat):
        c_norm = np.linalg.norm(c_mat, axis=1, keepdims=True)
        c_unit = c_mat / np.where(c_norm > 0, c_norm, 1.0)
        return (c_unit @ q_norm.T).T  # (n_queries, batch)

    return sims


def _seq_cosine_kernel(q_mat):
    """j-sequential cosine kernel for :func:`_arrow_topk` (see
    :func:`_seq_cosine_matrix`)."""
    return lambda c_mat: _seq_cosine_matrix(q_mat, c_mat)


def _arrow_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    kernel,
) -> DataFrame:
    """Shared Arrow brute-force driver: collect the (small by contract)
    query set into the closure, score each corpus batch with
    ``kernel(q_mat)(c_mat)`` -> (n_queries, batch) cosines, emit the
    repeat/tile pair frame, drop self-matches, rank. Scoring is
    partition-local; the only shuffle is the final per-query top-k. NULL
    vectors drop at entry; an empty query set returns an empty report
    (an (0, ?) matrix axis-errors in numpy — found by the empty-corpus
    sweep)."""
    corpus = drop_null_vectors(corpus, vec_col)
    queries = drop_null_vectors(queries, vec_col)
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    q_rows = queries.select(id_col, vec_col).collect()
    if not q_rows:
        return corpus.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, cos_sim double, rank int"
        )
    q_ids = np.array([r[0] for r in q_rows])
    sims_of = kernel(np.array([r[1] for r in q_rows], dtype=np.float64))

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            sims = sims_of(np.array(list(pdf[vec_col]), dtype=np.float64))
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(q_ids, n),
                    "neighbor_id": np.tile(pdf[id_col].to_numpy(), len(q_ids)),
                    "cos_sim": np.round(sims.ravel(), 6),
                }
            )

    scored = corpus.select(id_col, vec_col).mapInPandas(
        score, schema="query_id long, neighbor_id long, cos_sim double"
    )
    return _rank_neighbors(
        scored.filter(F.col("query_id") != F.col("neighbor_id")), k=k
    )


def cosine_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k via an Arrow-batched numpy kernel — the
    high-throughput variant of cosine_topk for wide embeddings: one BLAS
    matmul per (batch × query set) instead of per-element column algebra.

    The query set is shipped to executors inside the closure (it is small
    by contract — the corpus never is); scoring is partition-local and the
    only shuffle is the final per-query top-k.
    """
    return _arrow_topk(corpus, queries, k, id_col, vec_col, _blas_cosine_kernel)


# Optimized-logical-plan nodes a frame may hold for `_widen_if_narrow` to
# touch it: scans (file, local, checkpointed and range leaves),
# projections, filters and generators. Any other node — a join, an
# aggregate, a window, a sort, a repartition, a limit — may put an
# exchange (or an already-wide layout) in the frame, and on such a frame
# the `.rdd` probe is NOT job-free: under AQE, producing the final RDD
# materializes upstream shuffle stages at call time. A cached frame
# (InMemoryRelation) is refused too: building its RDD executes the
# cached plan, which may shuffle.
_WIDEN_SAFE_NODES = frozenset(
    {
        "LogicalRelation",
        "LogicalRDD",
        "LocalRelation",
        "DataSourceV2Relation",
        "DataSourceV2ScanRelation",
        "Range",
        "Project",
        "Filter",
        "Generate",
    }
)


def _scan_rooted(df: DataFrame) -> bool:
    """True when every node of the optimized plan is in
    ``_WIDEN_SAFE_NODES`` and none carries a subquery (a scalar subquery
    runs its own job when the plan executes). Walks the plan's node
    names driver-side; never executes a stage."""
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() not in _WIDEN_SAFE_NODES:
            return False
        if node.subqueries().nonEmpty():
            return False
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return True


def _widen_if_narrow(df: DataFrame) -> DataFrame:
    """Round-robin repartition ONLY when the input plan has fewer
    partitions than the cluster's parallelism — the corpus-side guard of
    the byte-blind-AQE rule (ARCHITECTURE §12): an Arrow kernel amplifies
    compute per byte (k-centroid cosine per row), so a narrow source (one
    small parquet split) runs the whole pass on one core while 31 idle. At
    scale a real scan already has >= cores partitions and this is a no-op.

    PRECONDITION (enforced): the frame must be scan-rooted — scans,
    projections, filters, generators only (``_scan_rooted``). On any
    other frame the ``.rdd`` partition probe is not job-free (AQE
    materializes the plan's shuffle stages to produce the final RDD), so
    this is a no-op instead."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        if not _scan_rooted(df) or df.rdd.getNumPartitions() >= target:
            return df
    except Exception:  # noqa: BLE001 — planning hiccup: keep the plan as-is
        return df
    return df.repartition(target)


def ivf_assign_arrow(
    vectors: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    out_col: str = "cell",
    n_best: int = 1,
    widen: bool = False,
) -> DataFrame:
    """Nearest-centroid assignment by cosine: centroids arrive as a
    collected (cell_id, vector) list — small BY CONTRACT (the index's cell
    count, not corpus data) — and each corpus batch scores against the
    centroid matrix with the j-sequential cosine kernel, emitting the
    ``n_best`` cells per row (score DESC, cell ASC — the stable argsort
    reproduces the oracles' ROW_NUMBER tie-break). The corpus scan stays
    partition-local; nothing shuffles until the caller uses the cells."""
    import numpy as np  # noqa: PLC0415
    from pyspark.sql import types as T  # noqa: PLC0415

    cents = sorted(centroids)  # cell ASC → stable-sort tie-break on ties
    cell_ids = np.array([c[0] for c in cents], dtype=np.int64)
    C = np.array([c[1] for c in cents], dtype=np.float64)
    if widen:  # corpus-side callers only — query batches stay narrow
        vectors = _widen_if_narrow(vectors)

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0 or not cents:  # no centroids: no cell, no row
                continue
            V = np.array(list(pdf[vec_col]), dtype=np.float64)
            S = _seq_cosine_matrix(V, C)
            order = np.argsort(-S, axis=1, kind="stable")[:, :n_best]
            for b in range(order.shape[1]):
                out = pdf.copy()
                out[out_col] = cell_ids[order[:, b]]
                yield out

    schema = T.StructType(
        list(vectors.schema.fields) + [T.StructField(out_col, T.LongType())]
    )
    return vectors.mapInPandas(fn, schema=schema)


def _cell_means(
    assigned: DataFrame, keys: tuple[str, ...], vec_col: str
) -> DataFrame:
    """THE Lloyd mean step: per ``keys`` group, the element-wise mean of
    the member vectors in ``vec_col`` as (``*keys``, cv). The
    per-component mean uses the decimal-sum discipline
    (aggregates.decimal_avg) so refined centroids are bit-identical across
    partitionings AND in the DuckDB oracle twins, which unroll the same
    iterations as CTEs. Empty cells drop out, exactly as in the oracles'
    inner aggregation."""
    means = (
        assigned.select(*keys, F.posexplode(F.col(vec_col)).alias("pos", "val"))
        .groupBy(*keys, "pos")
        .agg(decimal_avg(F.col("val").cast("double")).alias("m"))
    )
    return means.groupBy(*keys).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))),
            lambda x: x["m"],
        ).alias("cv")
    )


# The local Lloyd gate (ARCHITECTURE.md §11, "Centroid-assign crossover").
# A corpus of at most LOCAL_LLOYD_MAX_ROWS rows and LOCAL_LLOYD_MAX_VALUES
# vector elements, whose per-round kernel work rows × n_cells × dim is at
# most LOCAL_LLOYD_MAX_WORK, is collected once and refined on the driver;
# anything larger keeps the per-round Spark loop. Measured on 4 cores: the
# driver finish still won at the largest admitted size (32k vectors,
# k = 500, dim 64: 5.0 s against 6.8 s), and under ~10k vectors a round's
# wall is Spark dispatch, not scoring. The row bound also caps the scan a
# corpus past the gate costs.
LOCAL_LLOYD_MAX_ROWS = 32_768
LOCAL_LLOYD_MAX_VALUES = 1 << 21
LOCAL_LLOYD_MAX_WORK = 1 << 30

_LOCAL_BLOCK_ROWS = 512  # rows per block of the driver-side assign
_DEC_SCALE = 10**12  # DECIMAL(38,12): decimal_avg's exact-sum type
_DEC_LIMIT = 10**38  # |unscaled| bound of a DECIMAL(38, s) value


def _unscaled(dec):
    """Unscaled integers of a null-free pyarrow decimal128 array, read from
    its 16-byte little-endian two's-complement words: int64 when every
    value fits, else exact Python ints."""
    import numpy as np  # noqa: PLC0415

    words = np.frombuffer(dec.buffers()[1], dtype=np.int64)
    words = words[2 * dec.offset : 2 * (dec.offset + len(dec))]
    lo, hi = words[0::2], words[1::2]
    if np.array_equal(hi, lo >> 63):
        return lo
    return hi.astype(object) * 2**64 + lo.view(np.uint64).astype(object)


def _small_corpus(
    corpus: DataFrame,
    vec_col: str,
    n_cells: int,
    dim: int = 1,
    id_col: str | None = None,
) -> tuple[tuple | None, list[tuple[int, list[float]]] | None]:
    """THE local Lloyd gate: one bounded collect, ``limit(max_rows + 1)``
    of the corpus on one task. Spark counts the limited rows and their
    widest vector first (a window over the limited frame) and ships the
    vectors — each element also cast to DECIMAL(38,12) by Spark, exactly
    as :func:`_cell_means` casts it — only when rows, rows × dim and rows
    × ``n_cells`` × dim are within the gate, so a corpus past it costs a
    bounded scan and no payload. With ``id_col`` the same job also
    collects the default seed rows (``id_col < n_cells``) from the whole
    corpus, so no separate seed collect runs on either path.

    Returns (corpus, seed rows). The corpus is (V, U): the (rows, dim)
    float64 vectors as the Arrow assign kernel sees them, and the same
    elements as unscaled DECIMAL(38,12) integers (int64, or Python ints
    when a value does not fit). It is None (the distributed loop runs)
    past the gate, or when the vectors are not a null-free
    rectangle (null vectors or elements, ragged or empty arrays) — the
    driver kernel only takes the shape whose Spark result it reproduces
    bit for bit; the seed rows are None without ``id_col``. ``dim`` is
    the vector width when already known (the seeds were collected
    first), so the row bound can honour the other two bounds before the
    scan."""
    import numpy as np  # noqa: PLC0415
    import pyarrow.compute as pc  # noqa: PLC0415

    cells = max(n_cells, 1)
    max_rows = min(
        LOCAL_LLOYD_MAX_ROWS,
        LOCAL_LLOYD_MAX_VALUES // dim,
        LOCAL_LLOYD_MAX_WORK // (cells * dim),
    )
    vec = F.col(vec_col)
    parts = []
    if max_rows > 0:
        whole = Window.partitionBy()
        rows = F.count(F.lit(1)).over(whole)
        values = rows.cast("double") * F.max(F.size(vec)).over(whole)
        admit = (
            (rows <= max_rows)
            & (values <= LOCAL_LLOYD_MAX_VALUES)
            & (values * cells <= LOCAL_LLOYD_MAX_WORK)
        )
        decimals = F.transform(
            vec, lambda x: x.cast("double").cast("decimal(38,12)")
        )
        parts.append(
            corpus.coalesce(1).limit(max_rows + 1).select(
                F.lit(False).alias("seed"),
                admit.alias("ok"),
                F.when(admit, vec).alias("v"),
                F.when(admit, decimals).alias("u"),
            )
        )
    if id_col is not None:
        id_type = corpus.schema[id_col].dataType
        parts = [p.withColumn("id", F.lit(None).cast(id_type)) for p in parts]
        parts.append(
            corpus.filter(F.col(id_col) < n_cells).select(
                F.lit(True).alias("seed"),
                F.lit(None).cast("boolean").alias("ok"),
                vec.alias("v"),
                F.lit(None).cast("array<decimal(38,12)>").alias("u"),
                F.col(id_col).alias("id"),
            )
        )
    if not parts:
        return None, None
    tbl = functools.reduce(lambda a, b: a.unionByName(b), parts).toArrow()
    seed_rows = None
    if id_col is not None:
        seeds = tbl.filter(tbl.column("seed"))
        seed_rows = [
            (i, [float(x) for x in v])
            for i, v in zip(
                seeds.column("id").to_pylist(), seeds.column("v").to_pylist()
            )
        ]
    if max_rows <= 0:
        return None, seed_rows
    head = tbl.filter(pc.invert(tbl.column("seed")))
    n = head.num_rows
    if n == 0:
        return (np.zeros((0, 0)), np.zeros((0, 0), np.int64)), seed_rows
    if not head.column("ok")[0].as_py():
        return None, seed_rows
    v = head.column("v").combine_chunks()
    width = pc.min_max(pc.list_value_length(v))
    dim = width["max"].as_py()
    if v.null_count or not dim or width["min"].as_py() != dim:
        return None, seed_rows
    vals, decs = v.flatten(), head.column("u").combine_chunks().flatten()
    if vals.null_count or decs.null_count:
        return None, seed_rows
    V = vals.to_numpy(zero_copy_only=False).astype(np.float64).reshape(n, dim)
    return (V, _unscaled(decs).reshape(n, dim)), seed_rows


def _exact_cell_means(labels, U) -> list[tuple[int, list[float]]] | None:
    """:func:`_cell_means` on the driver, exactly: per cell, the unscaled
    DECIMAL(38,12) element sums as exact integers, each converted to the
    nearest double (Spark's decimal → double cast is correctly rounded)
    and divided by the member count. Empty cells drop out. Returns None
    when a sum leaves DECIMAL(38,12), where Spark's overflow rule — not
    this kernel — decides the result."""
    import numpy as np  # noqa: PLC0415

    order = np.argsort(labels, kind="stable")
    cells, starts, counts = np.unique(
        labels[order], return_index=True, return_counts=True
    )
    members = U[order]
    if members.dtype != object:
        peak = max(int(members.max()), -int(members.min()))
        if peak * len(members) >= 2**63:  # an int64 sum could wrap
            members = members.astype(object)
    sums = np.add.reduceat(members, starts, axis=0)
    if sums.dtype != object and int(np.abs(sums).max()) < 2**53:
        means = (sums / _DEC_SCALE) / counts[:, None]  # exact int → double
        return [(int(c), m.tolist()) for c, m in zip(cells, means)]
    if any(abs(int(s)) >= _DEC_LIMIT for s in sums.ravel()):
        return None
    return [
        (int(c), [(int(s) / _DEC_SCALE) / int(n) for s in row])
        for c, n, row in zip(cells, counts, sums)
    ]


def _lloyd_local(
    V, U, cent_rows: list[tuple[int, list[float]]], n_iters: int
) -> list[tuple[int, list[float]]] | None:
    """The Lloyd rounds of :func:`lloyd_refine_rows` on a collected corpus:
    the same j-sequential cosine kernel and stable argsort as
    :func:`ivf_assign_arrow` (highest score, lowest cell on ties, NaN scores
    last), then :func:`_exact_cell_means`. Rows are scored in blocks, like
    the kernel's Arrow batches (a row's scores do not depend on its
    block), on a few threads: numpy releases the GIL, and the blocks stay
    cache-sized. None when a mean leaves the decimal range (the caller
    runs the distributed loop instead)."""
    import numpy as np  # noqa: PLC0415
    from concurrent.futures import ThreadPoolExecutor  # noqa: PLC0415

    if len(V) == 0:
        return []
    step = _LOCAL_BLOCK_ROWS
    blocks = [V[i : i + step] for i in range(0, len(V), step)]
    with ThreadPoolExecutor(min(len(blocks), os.cpu_count() or 1, 8)) as pool:
        for _ in range(n_iters):
            cell_ids = np.array([c[0] for c in cent_rows], dtype=np.int64)
            C = np.array([c[1] for c in cent_rows], dtype=np.float64)

            def nearest(block):
                S = _seq_cosine_matrix(block, C)
                return cell_ids[np.argsort(-S, axis=1, kind="stable")[:, 0]]

            labels = np.concatenate(list(pool.map(nearest, blocks)))
            cent_rows = _exact_cell_means(labels, U)
            if cent_rows is None:
                return None
    return cent_rows


def _lloyd_rounds(
    corpus: DataFrame,
    small: tuple | None,
    seed_rows: list[tuple[int, list[float]]],
    n_iters: int,
    vec_col: str,
) -> list[tuple[int, list[float]]]:
    """Lloyd from ``seed_rows``: on the driver over ``small`` when the gate
    admitted the corpus, else one Spark round trip per round. No seeds
    train no centroids."""
    cent_rows = sorted(seed_rows)
    if not cent_rows:
        return []
    if small is not None:
        local = _lloyd_local(*small, cent_rows, n_iters)
        if local is not None:
            return local
    for _ in range(n_iters):
        assigned = ivf_assign_arrow(
            corpus.select(vec_col), cent_rows, vec_col=vec_col, widen=True
        )
        cent_rows = sorted(
            (r["cell"], [float(x) for x in r["cv"]])
            for r in _cell_means(assigned, ("cell",), vec_col).collect()
        )
    return cent_rows


def lloyd_refine_rows(
    corpus: DataFrame,
    seed_rows: list[tuple[int, list[float]]],
    n_iters: int = 2,
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Deterministic Lloyd iterations over collected centroid rows: assign
    every corpus vector to its nearest centroid (cosine), recompute each
    cell's centroid as the decimal element-wise mean of its members
    (:func:`_cell_means`), repeat. Returns sorted (cell, cv) rows, cell
    keeping the seed centroid's id; ``n_iters=0`` returns the sorted seeds.

    A small corpus (the gate of :func:`_small_corpus`: at most
    LOCAL_LLOYD_MAX_ROWS rows, LOCAL_LLOYD_MAX_VALUES elements and
    LOCAL_LLOYD_MAX_WORK scoring work per round) is collected once and
    every round runs on the driver, with results bit-identical to the
    Spark rounds: there the corpus itself, not only the centroid set,
    reaches the driver, bounded by the gate. A larger corpus runs one
    Arrow centroid-assign pass (partition-local, no shuffle) plus one
    n_cells × dim aggregate per round; only the centroid set is collected
    between rounds, truncating lineage so iteration i+1 never re-executes
    iteration i. That cost per round is independent of partition layout
    and linear in corpus size."""
    small = None
    if n_iters > 0 and seed_rows:
        dim = max(len(seed_rows[0][1]), 1)
        small, _ = _small_corpus(corpus, vec_col, len(seed_rows), dim)
    return _lloyd_rounds(corpus, small, seed_rows, n_iters, vec_col)


def _train_centroids(
    corpus: DataFrame,
    n_centroids: int,
    lloyd_iters: int,
    id_col: str,
    vec_col: str,
    seeds: DataFrame | None = None,
    refuse_empty: str | None = None,
) -> list[tuple[int, list[float]]]:
    """THE centroid-training rule for every IVF / k-means operator and
    index builder: collect the seed frame — (id, vector) rows, n by
    contract — and refine it by ``lloyd_iters`` order-independent Lloyd
    rounds over ``corpus`` (:func:`lloyd_refine_rows`). The default seeds
    are the n lowest ids (``id < n``); the retrains pass their own
    ``orderBy(id).limit(n)`` frame over the keep-last survivors. The
    oracles pin both rules. One place, not six — a seeding or
    refinement tweak replicated by hand would let a rebuilt index
    silently disagree with the one it replaces.

    With the default seeds one job collects the seed rows together with
    the local Lloyd gate's bounded collect (:func:`_small_corpus`): a
    corpus the gate admits reaches the driver whole (bounded by the
    gate) and is refined there, and no separate seed collect runs on
    either path. A retrain's own seed frame keeps its collect, and
    :func:`lloyd_refine_rows` gates the corpus after it.

    ``refuse_empty`` (the operator name) makes an empty seed set raise —
    the index builders and the quantized retrain refuse loudly, because
    continuing would write an empty/garbage tree with no error anywhere
    (measured: the SQ8 builder died later with an opaque 'exprs should
    not be empty' assert, the PQ builder silently returned ([], [])).
    Unset, an empty seed set trains no centroids and the caller's result
    is empty (the registered queries' empty-corpus contract)."""
    gated = seeds is None and lloyd_iters > 0
    if gated:
        small, seed_rows = _small_corpus(corpus, vec_col, n_centroids, id_col=id_col)
    else:
        if seeds is None:
            seeds = corpus.filter(F.col(id_col) < n_centroids).select(id_col, vec_col)
        seed_rows = [(r[0], [float(x) for x in r[1]]) for r in seeds.collect()]
    if not seed_rows and refuse_empty is not None:
        raise ValueError(
            f"{refuse_empty}: no seed vectors to train centroids from (no "
            "surviving vectors after the NULL-vector admission rule, or no "
            "ids in the seed range)"
        )
    if gated:
        return _lloyd_rounds(corpus, small, seed_rows, lloyd_iters, vec_col)
    return lloyd_refine_rows(corpus, seed_rows, n_iters=lloyd_iters, vec_col=vec_col)


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    lloyd_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN: corpus vectors are inverted-file-indexed by nearest centroid;
    each query scores only the corpus cells of its ``n_probe`` nearest
    centroids. Deterministic seeding — the ``n_centroids`` lowest-id vectors
    refined by ``lloyd_iters`` Lloyd rounds (decimal-mean, RNG-free) — so the
    index and the DuckDB oracle are exactly reproducible. Cost:
    corpus×centroids (broadcast, linear) + per-query work ~
    n_probe/n_centroids of the corpus instead of all of it.

    At scale the assignment step is materialized once (`build_ivf_index`
    writes the corpus partitioned BY cell) and amortized across query
    batches by `query_ivf_index`.
    """
    corpus = drop_null_vectors(corpus, vec_col)
    queries = drop_null_vectors(queries, vec_col)
    cent_rows = _train_centroids(corpus, n_centroids, lloyd_iters, id_col, vec_col)
    indexed = ivf_assign_arrow(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")),
        cent_rows,
        vec_col="cv",
        widen=True,
    )
    probes = _probe_cells(queries, cent_rows, n_probe, id_col, vec_col)
    # a (query, neighbor) pair can surface via several probed cells
    return _rank_neighbors(_cosine_pairs(probes, indexed, "cell", dedup=True), k=k)


def _probe_cells(
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    n_probe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(query_id, qv, cell): each query's ``n_probe`` nearest cells."""
    return ivf_assign_arrow(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")),
        sorted(centroids),
        vec_col="qv",
        n_best=n_probe,
    )


# --- oracle SQL twins --------------------------------------------------------

def _cos_sql(av: str, bv: str) -> str:
    """Cosine with the same sequential double fold and the same zero-norm
    NULL guard as the Spark side."""
    d = f"list_sum([CAST({av}[i] AS DOUBLE) * CAST({bv}[i] AS DOUBLE) for i in range(1, len({av}) + 1)])"
    na = f"sqrt(list_sum([CAST({av}[i] AS DOUBLE) * CAST({av}[i] AS DOUBLE) for i in range(1, len({av}) + 1)]))"
    nb = f"sqrt(list_sum([CAST({bv}[i] AS DOUBLE) * CAST({bv}[i] AS DOUBLE) for i in range(1, len({bv}) + 1)]))"
    return f"(CASE WHEN ({na} * {nb}) > 0 THEN {d} / ({na} * {nb}) END)"


def cosine_topk_oracle_sql(
    k: int = 5, n_queries: int = 5, table: str = "embeddings"
) -> str:
    cos = _cos_sql("q.qv", "c.cv")
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM {table}
               WHERE vec_id < {n_queries}),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM {table}),
         scored AS (
            SELECT q.query_id, c.neighbor_id, ROUND({cos}, 6) AS cos_sim
            FROM q CROSS JOIN c WHERE q.query_id <> c.neighbor_id),
         ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cos_sim DESC, neighbor_id) AS rank
            FROM scored)
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {k}
    """


def hyperplane_bucket_sql(
    vec: str, planes: list[list[float]] | None = None
) -> str:
    """DuckDB twin of ``random_hyperplane_bucket``: the same ±1.0 literals
    in the same left-associative term order, so the projection doubles are
    bit-identical to Spark's."""
    if planes is None:
        planes = seeded_hyperplanes()
    bits = []
    for plane in planes:
        lits = "[" + ", ".join(f"{w:.1f}" for w in plane) + "]"
        dim = len(plane)
        proj = (
            f"list_sum([CAST({vec}[i] AS DOUBLE) * ({lits})[i] "
            f"for i in range(1, {dim + 1})])"
        )
        bits.append(f"(CASE WHEN {proj} >= 0 THEN '1' ELSE '0' END)")
    return "(" + " || ".join(bits) + ")"


def cosine_topk_ivf_oracle_sql(
    k: int = 5,
    n_queries: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    lloyd_iters: int = 2,
    table: str = "embeddings",
) -> str:
    """DuckDB twin of cosine_topk_ivf, Lloyd iterations unrolled as CTEs.
    The per-component centroid mean uses the identical decimal-sum/double-
    division as the Spark side, so refined centroids are bit-equal."""
    cos_assign = _cos_sql("v.emb", "cent.cv")
    cos_score = _cos_sql("p.qv", "ix.cv")
    ctes = [
        f"""cent0 AS (
        SELECT vec_id AS cell, embedding AS cv FROM {table}
        WHERE vec_id < {n_centroids})"""
    ]
    for i in range(1, lloyd_iters + 1):
        ctes.append(f"""la{i} AS (
        SELECT * FROM (
            SELECT v.vec_id, v.emb, cent.cell,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                       ORDER BY {cos_assign} DESC, cent.cell) AS r
            FROM (SELECT vec_id, embedding AS emb FROM {table}) v
            CROSS JOIN cent{i - 1} cent) WHERE r = 1)""")
        ctes.append(f"""cent{i} AS (
        SELECT cell, list(m ORDER BY pos) AS cv FROM (
            SELECT cell, pos,
                   CAST(SUM(CAST(CAST(val AS DOUBLE) AS DECIMAL(38,12)))
                        AS DOUBLE) / COUNT(val) AS m
            FROM (SELECT cell, unnest(emb) AS val,
                         generate_subscripts(emb, 1) AS pos FROM la{i})
            GROUP BY cell, pos)
        GROUP BY cell)""")
    final = f"cent{lloyd_iters}"
    ctes.append(f"""corpus_assign AS (
        SELECT v.vec_id AS neighbor_id, v.emb AS cv, cent.cell,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                   ORDER BY {cos_assign} DESC, cent.cell) AS r
        FROM (SELECT vec_id, embedding AS emb FROM {table}) v
        CROSS JOIN {final} cent)""")
    ctes.append("ix AS (SELECT neighbor_id, cv, cell FROM corpus_assign WHERE r = 1)")
    ctes.append(f"""query_assign AS (
        SELECT v.vec_id AS query_id, v.emb AS qv, cent.cell,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                   ORDER BY {cos_assign} DESC, cent.cell) AS r
        FROM (SELECT vec_id, embedding AS emb FROM {table}
              WHERE vec_id < {n_queries}) v CROSS JOIN {final} cent)""")
    ctes.append(
        f"p AS (SELECT query_id, qv, cell FROM query_assign WHERE r <= {n_probe})"
    )
    ctes.append(f"""scored AS (
        SELECT DISTINCT p.query_id, ix.neighbor_id,
               ROUND({cos_score}, 6) AS cos_sim
        FROM p JOIN ix ON p.cell = ix.cell
        WHERE p.query_id <> ix.neighbor_id)""")
    ctes.append("""ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cos_sim DESC, neighbor_id) AS rank
        FROM scored)""")
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {k}
    """


def cosine_topk_lsh_multiprobe_oracle_sql(
    k: int = 5, n_queries: int = 5, n_bits: int = 8, table: str = "embeddings"
) -> str:
    """DuckDB twin of cosine_topk_lsh_multiprobe: same bucket expression,
    probe list unrolled as [bucket, flip_0, …, flip_n-1] and unnested."""
    cos = _cos_sql("q.qv", "c.cv")
    bucket = hyperplane_bucket_sql("embedding", seeded_hyperplanes(n_bits=n_bits))
    flips = ["bucket"]
    for i in range(n_bits):
        flips.append(
            f"substr(bucket, 1, {i}) || "
            f"(CASE WHEN substr(bucket, {i + 1}, 1) = '1' THEN '0' ELSE '1' END)"
            f" || substr(bucket, {i + 2}, {n_bits - i - 1})"
        )
    probe_list = "[" + ", ".join(flips) + "]"
    return f"""
    WITH qb AS (SELECT vec_id AS query_id, embedding AS qv,
                       {bucket} AS bucket
                FROM {table} WHERE vec_id < {n_queries}),
         q AS (SELECT query_id, qv, unnest({probe_list}) AS bucket FROM qb),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv,
                      {bucket} AS bucket
               FROM {table}),
         scored AS (
            SELECT q.query_id, c.neighbor_id, ROUND({cos}, 6) AS cos_sim
            FROM q JOIN c ON q.bucket = c.bucket
            WHERE q.query_id <> c.neighbor_id),
         ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cos_sim DESC, neighbor_id) AS rank
            FROM scored)
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {k}
    """


def cosine_topk_lsh_oracle_sql(
    k: int = 5, n_queries: int = 5, n_bits: int = 8, table: str = "embeddings"
) -> str:
    cos = _cos_sql("q.qv", "c.cv")
    bucket = hyperplane_bucket_sql("embedding", seeded_hyperplanes(n_bits=n_bits))
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
                      {bucket} AS bucket
               FROM {table} WHERE vec_id < {n_queries}),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv,
                      {bucket} AS bucket
               FROM {table}),
         scored AS (
            SELECT q.query_id, c.neighbor_id, ROUND({cos}, 6) AS cos_sim
            FROM q JOIN c ON q.bucket = c.bucket
            WHERE q.query_id <> c.neighbor_id),
         ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cos_sim DESC, neighbor_id) AS rank
            FROM scored)
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {k}
    """


# --- Persisted IVF index -----------------------------------------------------

def build_ivf_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 8,
    lloyd_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
) -> list[tuple[int, list[float]]]:
    """Materialize the IVF inverted file: corpus vectors written as parquet
    PARTITIONED BY their nearest-centroid cell, returning the (tiny)
    centroid rows the caller persists alongside as index metadata.

    This is the production shape `cosine_topk_ivf` amortizes to: the
    centroid assign runs ONCE over the corpus, and every later query batch
    reads only its probed cells — Spark prunes the non-probed partitions at
    the file listing, so query cost is n_probe/n_centroids of the index
    BY I/O, not just by compute (`query_ivf_index` asserts PartitionFilters
    in its plan test). Same deterministic seeding + Lloyd refinement as
    `cosine_topk_ivf`, so a fresh index over the same corpus is
    reproducible bit-for-bit.

    NULL vectors are never ingested (the index admission rule the
    lifecycle gate's oracle mirrors): dropped here at entry, because a
    None row reaching the Arrow assign kernel crashes it with an
    opaque (0,)-dim numpy error."""
    corpus = drop_null_vectors(corpus, vec_col)
    if centroids is not None:
        # rebuild/compact under FROZEN centroids: cell assignment is a
        # pure function of (vector, centroids), so the index layout is
        # reproducible without re-running the training loop
        cent_rows = sorted(centroids)
    else:
        cent_rows = _train_centroids(
            corpus, n_centroids, lloyd_iters, id_col, vec_col,
            refuse_empty="build_ivf_index",
        )
    codec = _index_codec(None, path, "build_ivf_index")
    _write_index(corpus, path, cent_rows, codec, 0, id_col, vec_col)
    return cent_rows


def _write_wave0(indexed: DataFrame, path: str) -> None:
    """Write ``indexed`` as the WHOLE index tree: wave 0, partitioned by
    (cell, wave), static overwrite pinned — a build, rebuild or compaction
    must drop every old (cell, wave) partition, not just the ones present
    in the new data (the session default is dynamic for the upsert
    paths)."""
    (
        indexed.withColumn("wave", F.lit(0))
        .write.partitionBy("cell", "wave")
        .mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .parquet(path)
    )


class IndexNotFoundError(AnalysisException, ValueError):
    """No readable IVF index at a path: Spark's analysis failure (the
    path is missing, or an empty directory with no schema to infer) and
    a caller error at once — the next step is always to build the index."""


def _read_index(spark, path: str, op: str) -> DataFrame:
    """Read a persisted IVF index for a lifecycle operator, translating
    the raw AnalysisException (PATH_NOT_FOUND / UNABLE_TO_INFER_SCHEMA
    on an empty dir) into one actionable :class:`IndexNotFoundError`."""
    try:
        return spark.read.parquet(path)
    except AnalysisException as exc:
        raise IndexNotFoundError(
            f"{op}: no readable IVF index at {path}; build it "
            "(similarity.build_ivf_index) first"
        ) from exc


class _Codec(NamedTuple):
    """A persisted index tree's codec, as :func:`_index_codec` resolves
    it. ``payload`` is the stored vector column (None for a float tree,
    which stores the vector column itself); ``encode(rows, vectors,
    id_col, vec_col)`` turns cell-assigned float rows into the rows a
    wave stores; ``decode`` maps the payload to the float view queries
    score; ``dim`` is that view's width."""

    payload: str | None = None
    encode: Callable | None = None
    decode: Callable | None = None
    dim: int | None = None

    def key(self, vec_col: str) -> str:
        """The stored column the keep-last rule ties on."""
        return self.payload or vec_col

    def view(self, vec_col: str) -> Column:
        """The float vector a stored row means."""
        if self.decode is None:
            return F.col(vec_col)
        return self.decode(F.col(self.payload))


def _index_codec(
    columns: list[str] | None,
    path: str,
    op: str,
    bounds: tuple[list[float], list[float]] | None = None,
    codebooks: list[tuple[int, int, list[float]]] | None = None,
) -> _Codec:
    """THE codec rule of the persisted IVF index: every build, upsert,
    compaction, query, lifecycle report and stream starter asks it which
    codec a tree is. ``columns`` are the tree's, or None when ``path``
    holds no index yet (the artifact passed decides; none = float). A
    ``codes`` column is SQ8 under the frozen ``bounds``, ``pq_codes`` is
    PQ under the frozen ``codebooks``, anything else is float.

    Every mismatch between the tree and the artifacts passed refuses
    before any job runs: a quantized tree without its artifact (decoding
    is impossible without it), a float tree given one, a quantized tree
    given the other codec's artifact too, both artifacts for a new path.
    A wave encoded under the wrong codec would land rows no reader can
    score — a float wave in a quantized tree has NULL codes."""
    if columns is None:
        if bounds is not None and codebooks is not None:
            raise ValueError(
                f"{op}: both bounds (SQ8) and codebooks (PQ) passed for a "
                f"new index at {path} — pick one codec"
            )
        sq8, pq = bounds is not None, codebooks is not None
    else:
        sq8, pq = "codes" in columns, "pq_codes" in columns
    if sq8:
        if bounds is None:
            raise ValueError(
                f"{op}: {path} is an SQ8 index (codes column) — pass its "
                "frozen quantization bounds"
            )
        if codebooks is not None:
            raise ValueError(
                f"{op}: {path} is an SQ8 index but PQ codebooks were ALSO "
                "passed — artifacts from two different indexes? pick the "
                "one that matches this tree"
            )
        mn, mx = _sq8_bound_arrays(bounds)
        return _Codec(
            "codes",
            lambda rows, _, id_col, vec_col: rows.select(
                id_col, sq8_codes(F.col(vec_col), mn, mx).alias("codes"), "cell"
            ),
            lambda c: sq8_decode(c, mn, mx),
            len(bounds[0]),
        )
    if pq:
        if codebooks is None:
            raise ValueError(
                f"{op}: {path} is a PQ index (pq_codes column) — pass its "
                "frozen codebooks"
            )
        if bounds is not None:
            raise ValueError(
                f"{op}: {path} is a PQ index but SQ8 bounds were ALSO "
                "passed — artifacts from two different indexes? pick the "
                "one that matches this tree"
            )
        m, dsub = _pq_geometry(codebooks)

        def encode(rows, vectors, id_col, vec_col):
            # join back on (id, vector-string): duplicate ids in one batch
            # keep their OWN codes and cells (see _pq_encode)
            cent = _pq_codebook_df(vectors.sparkSession, codebooks)
            coded = _pq_encode(vectors, cent, m, dsub, id_col, vec_col)
            keyed = rows.select(
                id_col, F.col(vec_col).cast("string").alias("_vkey"), "cell"
            )
            return keyed.join(coded, [id_col, "_vkey"]).drop("_vkey")

        return _Codec("pq_codes", encode, _pq_decode_expr(codebooks), m * dsub)
    if bounds is not None or codebooks is not None:
        kind = "an SQ8" if bounds is not None else "a PQ"
        raise ValueError(
            f"{op}: index at {path} is a FLOAT tree but a quantization "
            f"artifact was passed — it is not {kind} wave index. Wrong "
            "index path, or the tree was rebuilt under another codec? A "
            "float tree takes no artifact (to retrain one, use "
            "retrain_ivf_centroids)"
        )
    return _Codec()


def _open_for_write(
    spark,
    path: str,
    op: str,
    bounds: tuple[list[float], list[float]] | None = None,
    codebooks: list[tuple[int, int, list[float]]] | None = None,
) -> tuple[DataFrame | None, _Codec]:
    """(tree, codec) for a wave writer — one file listing + footer; the
    tree is None when ``path`` holds no index yet (the first wave creates
    it in the codec the artifacts imply, and wave 0 stays an empty build
    namespace). A tree written before the wave partition level is
    refused: (cell, wave) partitions written into a cell-only tree make
    a mixed layout no reader can open."""
    try:
        tree = spark.read.parquet(path)
    except AnalysisException:
        tree = None
    columns = None if tree is None else tree.columns
    codec = _index_codec(columns, path, op, bounds, codebooks)
    if tree is not None and "wave" not in tree.columns:
        raise ValueError(
            f"{op}: index at {path} has no wave partition level "
            "(pre-round-11 layout); rebuild it with build_ivf_index before "
            "wave upserts — mixing partition layouts in one path is "
            "unreadable"
        )
    return tree, codec


def _write_index(
    vectors: DataFrame,
    path: str,
    cent_rows: list[tuple[int, list[float]]],
    codec: _Codec,
    wave: int,
    id_col: str,
    vec_col: str,
) -> None:
    """THE encode-and-write body of every index write, build or wave:
    drop NULL vectors (the admission rule — a None row crashes the Arrow
    assign kernel, and a NULL in the index would poison every cosine),
    assign each vector its cell under the frozen centroids at FULL
    precision (quantization error costs re-rank margin, never cells),
    encode the stored payload, and write. Wave 0 is the whole tree
    (:func:`_write_wave0`); a wave k > 0 lands in its own (cell, wave)
    partitions by dynamic overwrite, so a replayed wave replaces itself
    instead of doubling rows (the upsert_partitions idempotency
    contract)."""
    from .upsert import upsert_partitions  # noqa: PLC0415

    vectors = drop_null_vectors(vectors, vec_col).select(id_col, vec_col)
    rows = ivf_assign_arrow(vectors, cent_rows, vec_col=vec_col)
    if codec.encode is not None:
        rows = codec.encode(rows, vectors, id_col, vec_col)
    if wave == 0:
        _write_wave0(rows, path)
    else:
        upsert_partitions(
            rows.withColumn("wave", F.lit(wave)), path, ["cell", "wave"]
        )


def upsert_ivf_index(
    new_vectors: DataFrame,
    path: str,
    centroids: list[tuple[int, list[float]]],
    wave: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bounds: tuple[list[float], list[float]] | None = None,
    codebooks: list[tuple[int, int, list[float]]] | None = None,
) -> None:
    """Incremental wave append to a persisted IVF index under FROZEN
    centroids — the serving-side reality a one-shot build ignores: new
    vectors arrive for months while the centroid artifact stays fixed
    (retraining centroids would move every existing cell assignment).

    Each wave lands in its (cell, wave) partitions via dynamic
    partition overwrite, so a crashed-and-replayed ingest REPLACES its
    partitions instead of doubling rows (the upsert_partitions
    idempotency contract), and partition pruning on ``cell`` — the
    outer partition level — is untouched: queries still list only
    probed cells.

    Re-ingested ids (same ``id_col``, new embedding): the query path
    keeps the newest wave per id within the cells it probes, so a
    same-cell update is visible immediately; an update that MOVES a
    vector across cells leaves the stale copy in the old cell until
    :func:`compact_ivf_index` reconciles (documented staleness — the
    standard LSM/lakehouse trade: cheap upserts, periodic compaction).

    CODEC from the tree (:func:`_index_codec`): an SQ8 tree takes its
    frozen ``bounds`` (values outside them clamp to 0/255 — the
    scalar-quantization saturation trade; a drifted value range is one
    more signal the drift trigger's retrain refreshes), a PQ tree its
    frozen ``codebooks`` (the PQ geometry is derived from them, never
    passed), a float tree neither; any mismatch refuses. A missing path
    is created by this wave in the codec the artifacts imply. Every call
    reads the tree's schema (one file listing + footer) and refuses a
    pre-round-11 tree written without the wave partition level — the
    streaming ingest resolves the codec once at stream start and writes
    its waves through :func:`_write_index` instead."""
    if wave < 1:
        raise ValueError(
            f"upsert_ivf_index: wave must be >= 1 (wave 0 is the build), "
            f"got {wave}"
        )
    _, codec = _open_for_write(
        new_vectors.sparkSession, path, "upsert_ivf_index", bounds, codebooks
    )
    _write_index(new_vectors, path, sorted(centroids), codec, wave, id_col, vec_col)


def _refuse_unreconstructed(
    recon: DataFrame, dim: int, op: str, path: str, action: str
) -> None:
    """One pass over the ``_rv`` reconstructions: a row whose codes fail
    to reconstruct to ``dim`` values (corrupt or foreign codes, e.g. a
    wave replayed under a retrained artifact) refuses the offline
    rewrite before any write — the query path scores such a row as NULL
    cosine (it never ranks), but a rewrite would launder it under a
    fabricated cell, or drop it with no error."""
    n_bad = recon.filter(
        F.col("_rv").isNull() | (F.size("_rv") != dim)
    ).count()
    if n_bad:
        raise ValueError(
            f"{op}: {n_bad} row(s) at {path} failed to reconstruct to "
            f"{dim} dims — corrupt or foreign codes (codes written under a "
            f"different codebook/bounds artifact?); refusing to {action}"
        )


def compact_ivf_index(
    spark,
    path: str,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bounds: tuple[list[float], list[float]] | None = None,
    codebooks: list[tuple[int, int, list[float]]] | None = None,
) -> None:
    """Compaction: collapse all waves to keep-last per id, REASSIGN every
    survivor's cell from its (possibly updated) embedding, and rewrite
    the index as a fresh wave 0 — after this, cross-cell staleness is
    gone and the index equals a clean :func:`build_ivf_index` of the
    survivor set under the same frozen centroids (pinned by test).
    Keep-last is (wave DESC, then payload bytes for a deterministic
    same-wave tiebreak); run it offline like the build — the rewrite is
    a plain overwrite, not a snapshot-isolated publish. A legacy index
    written before the wave partition level (cell-only layout) defaults
    to wave 0 — it is by definition all build rows, and compacting it
    migrates it to the current layout.

    CODEC from the tree (:func:`_index_codec`; pass an SQ8 tree's
    ``bounds`` or a PQ tree's ``codebooks``): a quantized survivor is
    reassigned from its RECONSTRUCTED vector — the one the query path
    scores — and its stored codes are carried through UNCHANGED (no
    decode → re-encode round trip to accumulate quantization error). A
    survivor whose codes fail to reconstruct aborts the compaction
    before any write (:func:`_refuse_unreconstructed`).

    COMPACTION MUST QUIESCE THE INGEST, including its replay window: a
    streaming wave REPLAYED after a compaction re-lands its original
    wave k > 0, which outranks the compacted wave-0 rows — if a LATER
    wave had updated one of its ids and compaction kept that newer
    vector, the replay resurrects the stale one as the keep-last winner
    (characterized in tests/test_round12_ops.py). The safe protocol:
    stop the stream, compact, then restart with a FRESH checkpoint —
    the wave-base sidecar re-pins from the compacted index (max wave 0
    → new waves start at 1) and nothing older can replay. Resuming the
    OLD checkpoint after a compaction is the one sequence that corrupts
    silently."""
    op = "compact_ivf_index"
    raw = _read_index(spark, path, op)
    codec = _index_codec(raw.columns, path, op, bounds, codebooks)
    key = codec.key(vec_col)
    latest = (
        _keep_latest_per_id(raw, id_col, key)
        .select(id_col, key)
        # the source partitions are rewritten below — cut the lineage so
        # the write doesn't read the files it is replacing
        .transform(lineage_cut)
    )
    if codec.decode is None:
        _write_wave0(ivf_assign_arrow(latest, sorted(centroids), vec_col=vec_col), path)
        return
    recon = latest.select(id_col, codec.view(vec_col).alias("_rv"))
    _refuse_unreconstructed(recon, codec.dim, op, path, "compact them into a fresh wave 0")
    cells = ivf_assign_arrow(recon, sorted(centroids), vec_col="_rv")
    _write_wave0(cells.select(id_col, "cell").join(latest, id_col), path)


def ivf_index_report(spark, path: str, id_col: str = "vec_id") -> DataFrame:
    """Index-health report per cell: (cell, n_rows, n_ids, n_waves,
    latest_wave, dup_ids) — ``dup_ids`` (ids present in >1 row within
    the cell) is the compaction debt a serving operator watches, and a
    max/mean skew over ``n_rows`` across cells is the
    rebuild-the-centroids signal (a drifting distribution concentrates
    new vectors in few cells). One aggregate over the index; never
    corpus-wide state on the driver. A legacy cell-only index reports as
    all wave 0 (the build namespace) instead of failing on an
    unresolved column."""
    raw = spark.read.parquet(path)
    if "wave" not in raw.columns:  # pre-round-11 layout: all build rows
        raw = raw.withColumn("wave", F.lit(0))
    per_id = raw.groupBy("cell", id_col).agg(
        F.count(F.lit(1)).alias("_n"), F.max("wave").alias("_w")
    )
    return (
        per_id.groupBy("cell")
        .agg(
            F.sum("_n").cast("long").alias("n_rows"),
            F.count(F.lit(1)).alias("n_ids"),
            F.count_distinct("_w").alias("n_waves"),
            F.max("_w").alias("latest_wave"),
            F.sum(F.when(F.col("_n") > 1, 1).otherwise(0))
            .cast("long")
            .alias("dup_ids"),
        )
        .orderBy("cell")
    )


def _pin_scoring_parallelism(latest: DataFrame) -> DataFrame:
    """AQE sizes post-shuffle parallelism by SHUFFLE BYTES, and
    quantized codes are 16-64x smaller than the vectors they decode to:
    the keep-last exchange over a PQ tree coalesces to ~1 partition,
    and that one task then pays the decode plus the per-pair cosine for
    the WHOLE probed set (measured: a 20k-row probed set fanning to
    320k scored pairs ran as a 7.7s single-task stage inside an 11s
    query that takes 3.5s once parallelism is restored — the compute
    amplification of decode + pair fan-out is invisible to byte-based
    sizing). An explicit round-robin exchange of
    the still-COMPRESSED rows pins the scoring stage's width (AQE
    respects explicit numPartitions); the extra shuffle moves codes,
    never decoded vectors."""
    n = latest.sparkSession.sparkContext.defaultParallelism
    return latest.repartition(n)


def _keep_latest_per_id(
    raw: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """THE keep-last rule, in one place: newest wave per id, same-wave
    ties broken by embedding bytes (deterministic). Compaction, the
    drift report, and the retrain must agree on which row survives —
    this is a correctness contract, not a convenience (a tiebreak change
    replicated by hand across call sites would let the lifecycle
    functions silently disagree about survivors). A legacy cell-only
    index (no wave column) defaults to wave 0 — all build rows. Returns
    every input column plus the defaulted ``wave``; callers project."""
    if "wave" not in raw.columns:  # pre-round-11 layout: all build rows
        raw = raw.withColumn("wave", F.lit(0))
    w = Window.partitionBy(id_col).orderBy(
        F.col("wave").desc(), F.col(vec_col).cast("string")
    )
    return (
        raw.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def ivf_drift_report(
    spark,
    path: str,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bounds: tuple[list[float], list[float]] | None = None,
    codebooks: list[tuple[int, int, list[float]]] | None = None,
) -> DataFrame:
    """One-row centroid-drift report for a persisted IVF index — the
    input to :func:`should_rebuild_centroids`, closing the last
    un-automated step of the index lifecycle (ivf_index_report surfaces
    compaction debt; this measures how far the DATA has drifted from the
    FROZEN centroid artifact):

    - ``occupancy_skew``: max latest-vector count across cells over the
      BALANCED expectation n/k (k = the artifact's centroid count, not
      the occupied-cell count — with the occupied-only denominator the
      worst drift case, everything collapsed into one cell, reads a
      perfect 1.0). A drifting distribution concentrates new vectors in
      few cells, eroding partition pruning (one fat cell = scanning
      most of the index per probe); total collapse reads k.
    - ``mean_distortion`` / ``max_distortion``: 1 - cosine(vector, its
      cell's frozen centroid) over the latest vector per id. Growth vs
      the build-time reading means vectors sit far from every centroid —
      true neighbors scatter across cell boundaries and recall@k decays
      at fixed n_probe (measured in tests/test_round13_ops.py).
    - ``upsert_frac``: fraction of surviving ids whose kept wave > 0 —
      how much of the index arrived under frozen centroids since the
      last build/compact.

    One linear pass over the index + a broadcast join against the
    k-row centroid table; the output is a single row, never corpus-sized
    driver state. Baseline discipline: collect this right after
    build/retrain and persist it next to the centroid artifact; the
    decision compares current vs baseline.

    CODEC-AWARE: a quantized tree (SQ8/PQ, detected from its schema)
    reports distortion over the RECONSTRUCTED vectors — the same view
    the query path scores, so the drift reading describes what serving
    actually sees; pass the tree's frozen artifact (``bounds`` /
    ``codebooks``) or fail fast with it named."""
    op = "ivf_drift_report"
    raw = _read_index(spark, path, op)
    codec = _index_codec(raw.columns, path, op, bounds, codebooks)
    latest = _keep_latest_per_id(raw, id_col, codec.key(vec_col)).select(
        "cell", "wave", codec.view(vec_col).alias(vec_col)
    )
    cent_df = F.broadcast(
        spark.createDataFrame(
            [(c, [float(x) for x in v]) for c, v in sorted(centroids)],
            "cell int, _centroid array<double>",
        )
    )
    per_vec = latest.join(cent_df, "cell").select(
        "cell",
        "wave",
        (1.0 - cosine(F.col(vec_col), F.col("_centroid"))).alias("_dist"),
    )
    per_cell = per_vec.groupBy("cell").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_dist").alias("_d"),
        F.max("_dist").alias("_dmax"),
        F.sum(F.when(F.col("wave") > 0, 1).otherwise(0)).alias("_up"),
    )
    n_centroids = max(1, len(centroids))
    return per_cell.agg(
        F.sum("_n").cast("long").alias("n_vectors"),
        F.count(F.lit(1)).alias("n_occupied_cells"),
        F.round(
            F.max("_n").cast("double")
            / (F.sum("_n").cast("double") / F.lit(float(n_centroids))),
            6,
        ).alias("occupancy_skew"),
        F.round(F.sum("_d") / F.sum("_n"), 6).alias("mean_distortion"),
        F.round(F.max("_dmax"), 6).alias("max_distortion"),
        F.round(F.sum("_up").cast("double") / F.sum("_n"), 6).alias(
            "upsert_frac"
        ),
    )


def should_rebuild_centroids(
    report: dict,
    baseline: dict | None = None,
    skew_limit: float = 4.0,
    distortion_growth: float = 1.5,
    upsert_frac_limit: float = 0.5,
    distortion_floor: float = 0.05,
) -> dict:
    """The rebuild decision, as a pure function over one-row
    :func:`ivf_drift_report` readings (current, and optionally the
    build-time baseline): rebuild when occupancy skew blows past
    ``skew_limit`` (pruning eroded), when mean distortion grew past
    ``max(distortion_growth x baseline, distortion_floor)`` (recall
    decay — the absolute reading is corpus-dependent, growth is not;
    the floor keeps the check satisfiable when the baseline is a
    perfectly-quantized 0.0, and a NULL baseline reading — empty index
    at baseline time — skips the growth check instead of crashing), or
    when more than
    ``upsert_frac_limit`` of the index arrived under frozen centroids
    (the artifact no longer describes the data that elected it).
    Returns ``{"rebuild": bool, "reasons": [...]}`` — driver-side over
    two 1-row dicts, never data-sized. Wire it into the quiesce
    protocol: stop ingest -> if rebuild: retrain_ivf_centroids ->
    restart with a FRESH checkpoint and the NEW centroid artifact."""
    if not report.get("n_vectors"):
        # empty index: the report row is all NULLs (aggregates over zero
        # rows) — there is nothing to retrain FROM, so never trigger
        return {"rebuild": False, "reasons": []}
    reasons = []
    if report["occupancy_skew"] > skew_limit:
        reasons.append(
            f"occupancy_skew {report['occupancy_skew']} > {skew_limit}"
        )
    base_dist = (baseline or {}).get("mean_distortion")
    if base_dist is not None:
        # a perfectly-quantized baseline (0.0 — vectors coincide with
        # their centroids) would make a multiplicative growth check
        # unsatisfiable forever; the floor gives growth a denominator:
        # fire when distortion exceeds max(growth x baseline, floor)
        threshold = max(distortion_growth * base_dist, distortion_floor)
        if (report["mean_distortion"] or 0.0) > threshold:
            reasons.append(
                f"mean_distortion {report['mean_distortion']} > "
                f"max({distortion_growth}x baseline {base_dist}, "
                f"floor {distortion_floor})"
            )
    if report["upsert_frac"] > upsert_frac_limit:
        reasons.append(
            f"upsert_frac {report['upsert_frac']} > {upsert_frac_limit}"
        )
    return {"rebuild": bool(reasons), "reasons": reasons}


def retrain_ivf_centroids(
    spark,
    path: str,
    n_centroids: int = 8,
    lloyd_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """The rebuild-the-centroids action :func:`should_rebuild_centroids`
    gates — compact-and-retrain in one pass: collapse the index to its
    keep-last survivors, re-seed (the ``n_centroids`` lowest surviving
    ids — same deterministic rule as the build) and re-run Lloyd over
    the CURRENT survivor set, then rewrite the index under the NEW
    centroids as a fresh wave 0. Returns the new centroid artifact; the
    caller persists it in place of the old one — every subsequent
    upsert/query/serve call must use it (cells are renumbered).

    QUIESCE REQUIRED, exactly as for compaction: stop the ingest
    stream, retrain, restart with a FRESH checkpoint (the wave-base
    sidecar re-pins from the rewritten index) and the new artifact.
    Resuming an old checkpoint replays waves assigned under the OLD
    centroids into the new layout — same corruption class as
    compact-under-live-ingest."""
    latest = (
        _keep_latest_per_id(
            _read_index(spark, path, "retrain_ivf_centroids"),
            id_col,
            vec_col,
        )
        .select(id_col, vec_col)
        # survivor set feeds seeding, Lloyd, and the rewrite of the very
        # files it came from: cut the lineage once (id+vector rows — the
        # compressed-intermediate doctrine, ARCHITECTURE §3)
        .transform(lineage_cut)
    )
    new_cents = _train_centroids(
        latest, n_centroids, lloyd_iters, id_col, vec_col,
        seeds=latest.orderBy(id_col).limit(n_centroids).select(id_col, vec_col),
    )
    build_ivf_index(
        latest, path, centroids=new_cents, id_col=id_col, vec_col=vec_col
    )
    return new_cents


def retrain_quantized_ivf(
    spark,
    path: str,
    n_centroids: int = 8,
    lloyd_iters: int = 2,
    id_col: str = "vec_id",
    bounds: tuple[list[float], list[float]] | None = None,
    codebooks: list[tuple[int, int, list[float]]] | None = None,
) -> tuple:
    """The retrain action for a QUANTIZED tree (SQ8/PQ, detected from
    its schema) — completes codec parity of the lifecycle: collapse to
    keep-last survivors, RECONSTRUCT them under the old artifact, then
    re-seed/re-train centroids over the reconstructions (the same
    lowest-surviving-id rule as :func:`retrain_ivf_centroids`) and
    rebuild the tree with FRESH quantization artifacts learned from the
    survivor set (new bounds for SQ8; new codebooks of the SAME (m,
    dsub) geometry for PQ, seeded from the k lowest surviving ids).
    Returns ``(new_centroids, new_bounds_or_codebooks)`` — both replace
    the old artifacts for every subsequent call; cells are renumbered.

    Quantization error COMPOUNDS once per retrain here (the tree only
    holds codes, so the rebuild re-encodes reconstructions — standard
    LSM-on-codes trade); an operator that retains the original float
    vectors should rebuild from source instead. HARD LIMIT: information
    the old artifact never stored cannot come back — an SQ8 dimension
    whose ingested values saturated the frozen bounds (clamped to the
    0/255 endpoints) reconstructs to the bound, so the retrained tree
    is a faithful index of the CODES, not of the original vectors
    (measured in tests: a drift signature living in bound-saturated
    dims is unrecoverable). The drift trigger firing early is the
    defense; rebuilding from source is the cure. QUIESCE REQUIRED,
    exactly as :func:`retrain_ivf_centroids`: stop ingest, retrain,
    restart with a FRESH checkpoint and the new artifacts."""
    op = "retrain_quantized_ivf"
    raw = _read_index(spark, path, op)
    codec = _index_codec(raw.columns, path, op, bounds, codebooks)
    if codec.payload is None:
        raise ValueError(
            f"{op}: index at {path} is a float tree — use "
            "retrain_ivf_centroids"
        )
    latest = (
        _keep_latest_per_id(raw, id_col, codec.payload)
        .select(id_col, codec.decode(F.col(codec.payload)).alias("_rv"))
        # survivor reconstructions feed seeding, Lloyd, artifact
        # learning, AND the rewrite of the very files they came from:
        # one lineage cut (ARCHITECTURE §3)
        .transform(lineage_cut)
    )
    # the same corrupt-codes refusal as compaction: a survivor whose
    # codes fail to reconstruct would otherwise be SILENTLY DROPPED by
    # the rebuild's drop_null_vectors (permanent data loss with no
    # error) — or crash the seed collect with a raw TypeError if its id
    # lands in the seed window
    _refuse_unreconstructed(
        latest, codec.dim, op, path,
        "retrain over a survivor set that would silently lose them",
    )
    new_cents = _train_centroids(
        latest, n_centroids, lloyd_iters, id_col, "_rv",
        seeds=latest.orderBy(id_col).limit(n_centroids),
        refuse_empty=f"{op} ({path})",
    )
    if bounds is not None:  # the codec rule admitted exactly one artifact
        _, new_bounds = build_sq8_ivf_index(
            latest, path, centroids=new_cents, id_col=id_col, vec_col="_rv"
        )
        return new_cents, new_bounds
    m, dsub = _pq_geometry(codebooks)
    k = 1 + max(c for _, c, _ in codebooks)
    seed_id_rows = latest.select(id_col).orderBy(id_col).limit(k).collect()
    cb_df = pq_codebooks(
        latest,
        m=m,
        dsub=dsub,
        k=k,
        lloyd_iters=lloyd_iters,
        id_col=id_col,
        vec_col="_rv",
        seed_ids=[r[0] for r in seed_id_rows],
    )
    new_codebooks = sorted(
        (r["j"], r["cell"], [float(x) for x in r["cv"]])
        for r in cb_df.collect()  # m*k rows — artifact, never corpus
    )
    build_pq_ivf_index(
        latest,
        path,
        centroids=new_cents,
        codebooks=new_codebooks,
        id_col=id_col,
        vec_col="_rv",
    )
    return new_cents, new_codebooks


def build_sq8_ivf_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 8,
    lloyd_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
    bounds: tuple[list[float], list[float]] | None = None,
) -> tuple[list[tuple[int, list[float]]], tuple[list[float], list[float]]]:
    """Scalar-quantized persisted IVF index — the compressed serving
    artifact the float lifecycle's 100 TB story needs: rows store int8
    CODES (array<int>, 0..255 — parquet's bit-packed encoding lands them
    at ~1 byte/dim on disk vs 4 for float32, a ~4x cut in index bytes
    and probe I/O), partitioned by (cell, wave) exactly like the float
    index so partition pruning, wave upserts, and keep-last semantics
    carry over unchanged. Returns the TWO frozen artifacts the caller
    persists: the centroids (cell assignment) and the per-dimension
    quantization bounds (mn, mx) — both are index metadata with the same
    lifetime discipline (a retrain mints new ones; mixing artifacts
    across builds corrupts silently, exactly like centroids alone).

    Cell assignment runs on the FULL-PRECISION vectors (quantization
    error must cost recall at the re-ranking margin, not move vectors
    across cells); only the stored payload is compressed. NULL vectors
    are dropped per the admission rule."""
    corpus = drop_null_vectors(corpus, vec_col)
    if bounds is None:
        dim_row = corpus.select(F.size(vec_col)).first()
        dim = int(dim_row[0]) if dim_row else 0
        if dim == 0:
            raise ValueError(
                "build_sq8_ivf_index: corpus has no non-NULL vectors to "
                "learn quantization bounds from — nothing to index"
            )
        b = sq8_bounds(corpus, vec_col=vec_col, dim=dim).first()
        bounds = ([float(x) for x in b["mn"]], [float(x) for x in b["mx"]])
    if centroids is not None:
        cent_rows = sorted(centroids)
    else:
        cent_rows = _train_centroids(
            corpus, n_centroids, lloyd_iters, id_col, vec_col,
            refuse_empty="build_sq8_ivf_index",
        )
    codec = _index_codec(None, path, "build_sq8_ivf_index", bounds=bounds)
    _write_index(corpus, path, cent_rows, codec, 0, id_col, vec_col)
    return cent_rows, bounds


def _sq8_bound_arrays(bounds: tuple[list[float], list[float]]):
    """The frozen SQ8 bounds artifact as (mn, mx) literal array Columns."""
    return tuple(F.array(*[F.lit(v) for v in b]) for b in bounds)


PQ_M = 4
PQ_K = 16


def _pq_geometry(codebooks: list[tuple[int, int, list[float]]]) -> tuple[int, int]:
    """(m, dsub) derived from the frozen codebook artifact itself — the
    artifact is the only truth about the PQ geometry; every consumer
    derives from it instead of trusting caller-passed parameters that
    can silently disagree."""
    m = 1 + max(j for j, _, _ in codebooks)
    dsub = len(codebooks[0][2])
    return m, dsub


def _pq_encode(
    vectors: DataFrame,
    cent: DataFrame,
    m: int,
    dsub: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, _vkey, codes): each vector's m one-byte PQ codes under a
    FROZEN codebook table (j, cell, cv) — the PQ codec's encoder
    (:func:`_index_codec`) behind every PQ build and wave. Assignment is
    argmin squared-L2 per (row, subspace) against the broadcast m*k
    codebook (ties: lowest cell), codes ordered by subspace. Rows are
    keyed by (id, vector-as-string), NOT id alone: a batch carrying the
    same id twice with different vectors must encode each vector's own
    codes — an id-keyed argmin would mix subspaces across the duplicates
    into a chimera code vector equal to neither input. Callers join the
    result back on BOTH keys and drop ``_vkey``."""
    src = vectors.select(
        id_col, vec_col, F.col(vec_col).cast("string").alias("_vkey")
    )
    sub = _pq_subvecs(
        src, m=m, dsub=dsub, id_col=id_col, vec_col=vec_col, carry=("_vkey",)
    )
    return (
        _pq_assign_codes(sub, cent, keys=(id_col, "_vkey"))
        .groupBy(id_col, "_vkey")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "cell"))),
                lambda x: x["cell"],
            ).alias("pq_codes")
        )
    )


def _pq_decode_expr(codebooks: list[tuple[int, int, list[float]]]):
    """THE PQ reconstruction rule, shared by compaction and the query
    path (two hand-rolled decodes would let them silently disagree
    about the vector a row of codes means): returns a Column fn mapping
    an m-element code array to its flattened reconstruction via
    LITERAL per-subspace lookup arrays — element_at on an m*k-entry
    constant, row-local, NO shuffle (the explode + codebook-join +
    regroup alternative pays an exchange of m× the probed rows on the
    serving hot path). A code that is NULL, negative, out of range, or
    pointing at a cell absent from the codebook yields a NULL
    reconstruction for the WHOLE row (flatten propagates the NULL
    part): queries score it as NULL cosine (never outranks a real row),
    compaction refuses it loudly — corruption surfaces, consistently,
    instead of being laundered through a fabricated substitute cell."""
    cb: dict[int, dict[int, list[float]]] = {}
    for j, c, cv in codebooks:
        cb.setdefault(j, {})[c] = cv
    m = 1 + max(cb)

    def decode(codes: Column) -> Column:
        parts = []
        for j in range(m):
            cells = cb.get(j, {})
            kmax = max(cells)
            lut = F.array(
                *[
                    F.array(*[F.lit(float(x)) for x in cells[c]])
                    if c in cells
                    else F.lit(None).cast("array<double>")
                    for c in range(kmax + 1)
                ]
            )
            code = F.element_at(codes, j + 1)
            parts.append(
                F.when(
                    (code >= 0) & (code <= kmax),
                    F.element_at(lut, code + F.lit(1)),
                )
            )
        return F.flatten(F.array(*parts))

    return decode


def _pq_codebook_df(spark, codebooks: list[tuple[int, int, list[float]]]):
    """The frozen codebook artifact ((j, cell, cv) rows, m*k total) as a
    broadcast-ready DataFrame."""
    return spark.createDataFrame(
        [(j, c, [float(x) for x in cv]) for j, c, cv in sorted(codebooks)],
        "j int, cell int, cv array<double>",
    )


def build_pq_ivf_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 8,
    m: int = PQ_M,
    dsub: int = 16,
    k: int = PQ_K,
    lloyd_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
    codebooks: list[tuple[int, int, list[float]]] | None = None,
) -> tuple[
    list[tuple[int, list[float]]], list[tuple[int, int, list[float]]]
]:
    """Product-quantized persisted IVF index — the deepest compression
    tier of the serving family (float -> SQ8 -> PQ): rows store m
    one-byte codes (m=4 on 64-dim vectors = 16x fewer values than
    float32; parquet bit-packs them to ~1 byte each), under the same
    (cell, wave) partitioning/lifecycle as the float and SQ8 indexes.
    Returns the TWO frozen artifacts: IVF centroids (full-precision cell
    assignment, as always) and the m*k PQ codebook rows — the retrain
    lifetime discipline applies to both. NULL vectors dropped per the
    admission rule."""
    corpus = drop_null_vectors(corpus, vec_col)
    if centroids is not None:
        cent_rows = sorted(centroids)
    else:
        cent_rows = _train_centroids(
            corpus, n_centroids, lloyd_iters, id_col, vec_col,
            refuse_empty="build_pq_ivf_index",
        )
    # m/dsub only shape NEW codebooks: under a FROZEN artifact the codec
    # derives its geometry from the artifact (_index_codec) — passed m/dsub
    # that disagree with it would encode subvectors against wrong-dimension
    # sub-centroids (NULL L2, effectively random codes) with no error
    if codebooks is None:
        cb_df = pq_codebooks(
            corpus,
            m=m,
            dsub=dsub,
            k=k,
            lloyd_iters=lloyd_iters,
            id_col=id_col,
            vec_col=vec_col,
        )
        codebooks = sorted(
            (r["j"], r["cell"], [float(x) for x in r["cv"]])
            for r in cb_df.collect()  # m*k rows — artifact, never corpus
        )
        if not codebooks:
            raise ValueError(
                "build_pq_ivf_index: corpus has no non-NULL vectors to "
                "learn codebooks from — nothing to index"
            )
    codec = _index_codec(None, path, "build_pq_ivf_index", codebooks=codebooks)
    _write_index(corpus, path, cent_rows, codec, 0, id_col, vec_col)
    return cent_rows, codebooks


def ivf_probe_sweep(
    spark,
    path: str,
    centroids: list[tuple[int, list[float]]],
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    probes: tuple[int, ...] = (1, 2, 4),
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The n_probe tuning curve for a persisted IVF index — the IVF
    analog of ``lsh_band_sweep``: (n_probe, mean_recall, min_recall,
    n_queries, cells_scanned), one row per candidate setting, recall
    graded against ONE brute-force truth pass shared by every setting
    (the truth table is the expensive side — it is cut once and reused;
    each approximate side reads only its probed cells, so the sweep's
    marginal cost per setting is the setting's own query cost).
    ``cells_scanned`` is the distinct probe-cell count that setting
    touched — the I/O knob the operator trades recall against: pick the
    smallest n_probe whose recall clears the serving floor."""
    truth = cosine_topk(
        corpus, queries, k=k, id_col=id_col, vec_col=vec_col
    ).transform(lineage_cut)
    rows = []
    for n_probe in probes:
        probed = _probe_cells(queries, centroids, n_probe, id_col, vec_col)
        n_cells = probed.select("cell").distinct().count()
        graded = _grade_recall(
            truth,
            query_ivf_index(
                spark,
                path,
                centroids,
                queries,
                k=k,
                n_probe=n_probe,
                id_col=id_col,
                vec_col=vec_col,
            ),
        )
        agg = graded.agg(
            F.round(F.avg("recall"), 6).alias("mean_recall"),
            F.round(F.min("recall"), 6).alias("min_recall"),
            F.count(F.lit(1)).alias("n_queries"),
        ).first()
        rows.append(
            (
                n_probe,
                float(agg["mean_recall"]) if agg["mean_recall"] is not None else None,
                float(agg["min_recall"]) if agg["min_recall"] is not None else None,
                int(agg["n_queries"]),
                n_cells,
            )
        )
    return spark.createDataFrame(
        rows,
        "n_probe int, mean_recall double, min_recall double, "
        "n_queries long, cells_scanned long",
    )


def index_codec_frontier(
    spark,
    corpus: DataFrame,
    queries: DataFrame,
    base_dir: str,
    k: int = 5,
    n_probe: int = 2,
    n_centroids: int = 8,
    lloyd_iters: int = 2,
    m: int = PQ_M,
    dsub: int = 16,
    pq_k: int = PQ_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The recall-for-bytes frontier across the serving family's three
    codecs — the report an operator reads to PICK the tier: builds a
    float, an SQ8, and a PQ index over the same corpus under ONE shared
    centroid artifact (training once isolates codec error from cell
    assignment — every tree probes identically), grades each against
    ONE shared brute-force truth pass at the same (k, n_probe), and
    measures each tree's actual parquet bytes. One row per codec:
    (codec, n_rows, bytes_on_disk, bytes_per_vector, mean_recall,
    min_recall, n_queries).

    The corpus is cut once (it feeds seeding, Lloyd, three builds, and
    the truth pass — six-plus traversals of the same id+vector rows);
    every per-codec side reads only its own tree. Bytes are measured by
    a local directory walk — the trees this report builds are
    throwaway comparison artifacts under ``base_dir``, not the serving
    index, so the report is local-path-only by design (a remote-scheme
    base_dir is refused loudly)."""
    import os  # noqa: PLC0415
    from urllib.parse import urlparse  # noqa: PLC0415

    parsed = urlparse(base_dir)
    if parsed.scheme not in ("", "file"):
        raise ValueError(
            f"index_codec_frontier: base_dir {base_dir!r} is not a local "
            "filesystem location; the comparison trees and their byte "
            "measurement are local-only by design"
        )
    root = parsed.path if parsed.scheme else base_dir
    corpus = drop_null_vectors(corpus, vec_col).select(id_col, vec_col)
    corpus = corpus.transform(lineage_cut)
    # queries feed the truth cross-join plus one probe-assign (with its
    # distinct-collect action) and one broadcast per codec — ~7
    # traversals; cut them for the same reason as the corpus
    queries = queries.select(id_col, vec_col).transform(lineage_cut)
    cents = _train_centroids(
        corpus, n_centroids, lloyd_iters, id_col, vec_col,
        refuse_empty="index_codec_frontier",
    )
    truth = cosine_topk(
        corpus, queries, k=k, id_col=id_col, vec_col=vec_col
    ).transform(lineage_cut)

    fpath, spath, ppath = (os.path.join(root, c) for c in ("float", "sq8", "pq"))
    build_ivf_index(corpus, fpath, centroids=cents, id_col=id_col, vec_col=vec_col)
    # a schemeless base_dir resolves against fs.defaultFS, which need
    # not be the driver's local filesystem — if the tree did not land
    # where tree_bytes() will walk, the bytes column would be silently
    # zero, the exact wrong-report mode the loud guard above exists for
    if not os.path.isdir(fpath):
        raise ValueError(
            f"index_codec_frontier: {fpath} was not created on the "
            "driver-local filesystem (non-local fs.defaultFS?); the byte "
            "measurement is local-only — pass an explicit file: URI"
        )
    _, bounds = build_sq8_ivf_index(
        corpus, spath, centroids=cents, id_col=id_col, vec_col=vec_col
    )
    _, codebooks = build_pq_ivf_index(
        corpus, ppath, centroids=cents, m=m, dsub=dsub, k=pq_k,
        lloyd_iters=lloyd_iters, id_col=id_col, vec_col=vec_col,
    )

    def tree_bytes(p: str) -> int:
        total = 0
        for dirpath, _, files in os.walk(p):
            total += sum(
                os.path.getsize(os.path.join(dirpath, f))
                for f in files
                if f.endswith(".parquet")
            )
        return total

    n_rows = corpus.count()
    out = []
    for codec, path, artifact in (
        ("float", fpath, {}),
        ("sq8", spath, {"bounds": bounds}),
        ("pq", ppath, {"codebooks": codebooks}),
    ):
        approx = query_ivf_index(
            spark, path, cents, queries, k=k, n_probe=n_probe,
            id_col=id_col, vec_col=vec_col, **artifact,
        )
        agg = _grade_recall(truth, approx).agg(
            F.round(F.avg("recall"), 6).alias("mean_recall"),
            F.round(F.min("recall"), 6).alias("min_recall"),
            F.count(F.lit(1)).alias("n_queries"),
        ).first()
        b = tree_bytes(path)
        out.append(
            (
                codec,
                n_rows,
                b,
                round(b / max(1, n_rows), 2),
                float(agg["mean_recall"]) if agg["mean_recall"] is not None else None,
                float(agg["min_recall"]) if agg["min_recall"] is not None else None,
                int(agg["n_queries"]),
            )
        )
    return spark.createDataFrame(
        out,
        "codec string, n_rows long, bytes_on_disk long, "
        "bytes_per_vector double, mean_recall double, min_recall double, "
        "n_queries long",
    )


def query_ivf_index(
    spark,
    path: str,
    centroids: list[tuple[int, list[float]]],
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bounds: tuple[list[float], list[float]] | None = None,
    codebooks: list[tuple[int, int, list[float]]] | None = None,
) -> DataFrame:
    """ANN over a persisted IVF index: assign each query its n_probe cells,
    scan ONLY those cell partitions (partition pruning via the isin filter
    — the scan's PartitionFilters, not a post-read filter), keep the
    newest wave per id within the probed cells, score bucket-locally,
    rank per query. Matches `cosine_topk_ivf` output for the same
    corpus/seeding. Output: (query_id, neighbor_id, cos_sim, rank).

    CODEC from the tree (:func:`_index_codec`): an SQ8 tree takes its
    frozen ``bounds``, a PQ tree its frozen ``codebooks``. Scoring over a
    quantized tree is ASYMMETRIC — the float query against the decoded
    neighbor (keeping the query at full precision costs nothing and
    beats symmetric reconstruction on recall); the PQ decode is the
    row-local literal lookup of :func:`_pq_decode_expr`, no shuffle on
    the serving hot path. A corrupt/foreign code row decodes NULL →
    NULL cos_sim → never outranks a real row.

    The keep-last rule runs over the probed subset only, so its cost is
    cell-bounded (see upsert_ivf_index for the cross-cell staleness
    contract). A legacy float tree without a ``wave`` column skips the
    window: one copy per id by construction. Quantized trees pin the
    scoring stage's width (:func:`_pin_scoring_parallelism`) — their
    codes are too small for byte-based AQE sizing."""
    op = "query_ivf_index"
    index = _read_index(spark, path, op)
    codec = _index_codec(index.columns, path, op, bounds, codebooks)
    probes = _probe_cells(queries, centroids, n_probe, id_col, vec_col)
    probe_cells = sorted({r["cell"] for r in probes.select("cell").distinct().collect()})
    index = index.filter(F.col("cell").isin(probe_cells))
    if codec.payload is not None or "wave" in index.columns:
        index = _keep_latest_per_id(index, id_col, codec.key(vec_col))
    if codec.payload is not None:
        index = _pin_scoring_parallelism(index)
    indexed = index.select(
        F.col(id_col).alias("neighbor_id"), codec.view(vec_col).alias("cv"), "cell"
    )
    return _rank_neighbors(_cosine_pairs(probes, indexed, "cell", dedup=True), k=k)


def cosine_topk_seq_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k through the j-sequential Arrow kernel:
    same output contract as `cosine_topk`, bit-identical scores to the
    F.aggregate fold AND the DuckDB list-comprehension oracle (see
    `_seq_cosine_matrix`), at numpy throughput. Use this variant when the
    result feeds a downstream decision (e.g. kNN voting) where a one-ulp
    rank flip at the k boundary would change the answer."""
    return _arrow_topk(corpus, queries, k, id_col, vec_col, _seq_cosine_kernel)


def knn_label_predict(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """kNN classification by majority vote over exact cosine top-k: for
    each query vector, take its k nearest corpus neighbors (self
    excluded), vote on their labels, break vote ties by smallest label.
    Returns (query_id, true_label, pred_label, votes, correct).

    The scoring pass is the `cosine_topk_seq_arrow` corpus scan (query
    set broadcast in the closure, corpus never collected); voting is two
    narrow aggregations on the tiny (queries × k) result. This is the
    standard embedding-quality / label-propagation health check a
    training-data pipeline runs after computing embeddings."""
    corpus = drop_null_vectors(corpus, vec_col)
    queries = drop_null_vectors(queries, vec_col)
    top = cosine_topk_seq_arrow(corpus, queries, k=k, id_col=id_col, vec_col=vec_col)
    neighbor_labels = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("n_label")
    )
    votes = (
        top.join(neighbor_labels, "neighbor_id")
        .groupBy("query_id", "n_label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    pred = topk_per_group(
        votes,
        ["query_id"],
        [F.col("votes").desc(), F.col("n_label").asc()],
        k=1,
        rank_col="_pr",
    )
    truth = queries.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("true_label")
    )
    return (
        pred.join(F.broadcast(truth), "query_id")
        .select(
            "query_id",
            "true_label",
            F.col("n_label").alias("pred_label"),
            "votes",
            (F.col("n_label") == F.col("true_label")).cast("bigint").alias("correct"),
        )
    )


def knn_label_oracle_sql(k: int = 10, mod: int = 100, table: str = "embeddings") -> str:
    """DuckDB twin of `knn_label_predict` over every `mod`-th vector."""
    cos = _cos_sql("q.qv", "c.cv")
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS true_label
               FROM {table} WHERE vec_id % {mod} = 0),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv, label AS n_label
               FROM {table}),
         scored AS (
            SELECT q.query_id, q.true_label, c.neighbor_id, c.n_label,
                   ROUND({cos}, 6) AS cos_sim
            FROM q CROSS JOIN c WHERE q.query_id <> c.neighbor_id),
         ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cos_sim DESC, neighbor_id) AS rk
            FROM scored),
         votes AS (
            SELECT query_id, true_label, n_label,
                   CAST(COUNT(*) AS BIGINT) AS votes
            FROM ranked WHERE rk <= {k} GROUP BY 1, 2, 3),
         pred AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY votes DESC, n_label) AS pr
            FROM votes)
    SELECT query_id, true_label, n_label AS pred_label, votes,
           CAST(n_label = true_label AS BIGINT) AS correct
    FROM pred WHERE pr = 1
    """


#: Production default for derived k: k = ceil(N / target). 1024 vectors per
#: cell keeps the within-cluster pair stage at O(N * target) total work —
#: linear in the corpus — instead of the O((N/k)^2 * k) blow-up a FIXED k
#: becomes at 100 TB (an all-pairs join in disguise). SemDeDup (Abbas et al.
#: 2023) runs k ≈ 10^5 on web-scale corpora for exactly this reason.
TARGET_CLUSTER_SIZE = 1024


def derived_n_clusters(n_rows: int, target_cluster_size: int) -> int:
    """k = ceil(N / target): average cell size is bounded by the target at
    ANY corpus size, so the quadratic within-cell stage stays linear overall."""
    import math

    return max(1, math.ceil(n_rows / target_cluster_size))


def _n_clusters_sql(
    n_clusters: int | None, target_cluster_size: int, table: str
) -> str:
    """SQL form of the k choice: a literal when pinned, a scalar subquery
    computing the same ceil(N/target) when derived — bit-identical to the
    Spark side's count()-based derivation."""
    if n_clusters is not None:
        return str(n_clusters)
    return (
        f"(SELECT CAST(GREATEST(1, CEIL(COUNT(*) / {target_cluster_size}.0))"
        f" AS BIGINT) FROM {table})"
    )


def kmeans_clusters(
    corpus: DataFrame,
    n_clusters: int | None = None,
    lloyd_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_cluster_size: int = TARGET_CLUSTER_SIZE,
) -> DataFrame:
    """Deterministic k-means cluster assignment over an embedding column —
    the corpus-partitioning step of semantic dedup / topic bucketing in a
    training-data pipeline.

    ``n_clusters=None`` (the default) derives k = ceil(N / target_cluster_
    size), so cell population — and with it the cost of any downstream
    within-cell work — is bounded regardless of corpus size; a pinned k
    is accepted for experiments but does not survive a 100x scale-up.

    Seeding and refinement are identical to cosine_topk_ivf (lowest-id
    seeds + decimal-mean Lloyd rounds, RNG-free), so the result is exactly
    reproducible in the SQL oracle. The corpus-side cost is one broadcast
    centroid-assign scan per Lloyd round (none for a corpus under the local
    Lloyd gate, refined on the driver) plus one final assign — linear,
    partition-local, no corpus shuffle at any step.
    """
    corpus = drop_null_vectors(corpus, vec_col)
    assigned = kmeans_assign(
        corpus.select(F.col(id_col), F.col(vec_col)),
        n_clusters=n_clusters, lloyd_iters=lloyd_iters,
        id_col=id_col, vec_col=vec_col,
        target_cluster_size=target_cluster_size,
    )
    return assigned.select(F.col(id_col), "cluster")


# Above this many clusters the driver stops collecting the centroid table:
# at k = ceil(N/1024), 50k centroids ≈ 5 GB corpus-equivalent of index rows —
# past that (10⁹+ vectors) the driver materializing and re-broadcasting k
# rows per Lloyd round becomes the bottleneck, so the assign step switches
# to the two-level distributed path (assign_nearest_distributed).
DISTRIBUTED_K_THRESHOLD = 50_000


def assign_nearest_distributed(
    vectors: DataFrame,
    centroids: DataFrame,
    coarse_rows: list[tuple[int, list[float]]],
    coarse_probe: int | None = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "cell",
) -> DataFrame:
    """Nearest-centroid assignment with the centroid set kept as a
    DATAFRAME — the large-k path where collecting k centroids to the
    driver is no longer tenable. Two-level scheme (the FAISS-IVF coarse
    quantizer applied to the centroid table itself):

    1. a tiny COARSE centroid set (``coarse_rows``, ~sqrt(k) rows — index
       metadata, the only thing that ever reaches the driver) buckets the
       k centroids: one distributed Arrow scan of the centroid table;
    2. every vector probes its ``coarse_probe`` nearest coarse buckets
       (one Arrow scan of the corpus);
    3. probes cogroup with the bucketed centroids per coarse cell — the
       same j-sequential cosine kernel scores each vector against just
       that bucket's centroids (Arrow, no row explosion through the
       shuffle: corpus×probe rows + the centroid table once);
    4. a per-vector max_by picks the winner across probed buckets with
       the collected path's exact tie-break (score DESC, cell ASC).

    ``coarse_probe=None`` probes ALL coarse buckets — EXACT nearest
    centroid (bit-identical to the collected kernel, since per-pair scores
    are independent of batching) at corpus×n_coarse shuffle cost. The
    default 8 is the standard approximate trade at extreme k: a vector can
    only miss its true centroid if that centroid's coarse bucket ranks
    below the probe budget. Returns (id_col, out_col)."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    n_coarse = len(coarse_rows)
    probe = n_coarse if coarse_probe is None else min(coarse_probe, n_coarse)
    cent_bucketed = ivf_assign_arrow(
        centroids.select("cell", "cv"), coarse_rows, vec_col="cv",
        out_col="coarse",
    )
    probes = ivf_assign_arrow(
        vectors.select(F.col(id_col), F.col(vec_col)), coarse_rows,
        vec_col=vec_col, out_col="coarse", n_best=probe, widen=True,
    )

    def local_best(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {id_col: pd.Series(dtype="int64"),
             "cell": pd.Series(dtype="int64"),
             "score": pd.Series(dtype="float64")}
        )
        if len(left) == 0 or len(right) == 0:
            return empty
        r = right.sort_values("cell", kind="stable").reset_index(drop=True)
        V = np.array(list(left[vec_col]), dtype=np.float64)
        C = np.array(list(r["cv"]), dtype=np.float64)
        S = _seq_cosine_matrix(V, C)
        j = np.argsort(-S, axis=1, kind="stable")[:, 0]  # ties → lowest cell
        return pd.DataFrame(
            {id_col: left[id_col].to_numpy(),
             "cell": r["cell"].to_numpy()[j],
             "score": S[np.arange(len(left)), j]}
        )

    cand = (
        probes.groupby("coarse")
        .cogroup(cent_bucketed.groupby("coarse"))
        .applyInPandas(local_best, schema=f"{id_col} long, cell long, score double")
    )
    # lexicographic struct max: highest score, then lowest cell — the same
    # tie-break as the collected kernel's stable argsort
    return cand.groupBy(id_col).agg(
        F.max_by("cell", F.struct(F.col("score"), -F.col("cell"))).alias(out_col)
    )


def kmeans_assign(
    corpus: DataFrame,
    n_clusters: int | None = None,
    lloyd_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "cluster",
    target_cluster_size: int = TARGET_CLUSTER_SIZE,
    distributed_threshold: int = DISTRIBUTED_K_THRESHOLD,
    coarse_probe: int | None = 8,
) -> DataFrame:
    """kmeans_clusters keeping EVERY input column (the Arrow assign kernel
    passes rows through untouched and appends the cell id) — callers that
    need the vector next to its cluster (e.g. semantic dedup's pair stage)
    use this form and skip a corpus self-join on the id.

    Below ``distributed_threshold`` clusters the centroid table is
    collected and broadcast (one Arrow scan per Lloyd round, or none under
    the local Lloyd gate — the right plan through the SemDeDup regime,
    k ≲ 10⁵). Above it, centroids stay a DataFrame end-to-end and
    assignment goes through the two-level cogroup path
    (assign_nearest_distributed): only the ~sqrt(k) coarse quantizer ever
    reaches the driver. See ARCHITECTURE.md §11 for the crossover
    analysis."""
    if n_clusters is None:
        n_clusters = derived_n_clusters(corpus.count(), target_cluster_size)
    if n_clusters <= distributed_threshold:
        cent_rows = _train_centroids(corpus, n_clusters, lloyd_iters, id_col, vec_col)
        return ivf_assign_arrow(
            corpus, cent_rows, vec_col=vec_col, out_col=out_col, widen=True
        )

    # --- large-k path: centroids never materialize on the driver ---
    import math  # noqa: PLC0415

    seeds_df = corpus.filter(F.col(id_col) < n_clusters).select(
        F.col(id_col).alias("cell"), F.col(vec_col).cast("array<double>").alias("cv")
    )
    n_coarse = math.isqrt(max(n_clusters - 1, 0)) + 1  # ceil(sqrt(k))
    # the ONLY driver materialization: sqrt(k) coarse quantizer rows
    coarse_rows = [
        (r[0], [float(x) for x in r[1]])
        for r in seeds_df.filter(F.col("cell") < n_coarse).collect()
    ]
    cent_df = seeds_df
    for _ in range(lloyd_iters):
        assigned = assign_nearest_distributed(
            corpus, cent_df, coarse_rows, coarse_probe=coarse_probe,
            id_col=id_col, vec_col=vec_col,
        )
        merged = assigned.join(corpus.select(id_col, vec_col), id_col)
        # truncate lineage between rounds (k rows, distributed — the
        # collected path's between-round collect, without the driver)
        cent_df = _cell_means(merged, ("cell",), vec_col).transform(lineage_cut)
    final = assign_nearest_distributed(
        corpus, cent_df, coarse_rows, coarse_probe=coarse_probe,
        id_col=id_col, vec_col=vec_col, out_col=out_col,
    )
    return corpus.join(final, id_col)


def kmeans_clusters_oracle_sql(
    n_clusters: int | None = None,
    lloyd_iters: int = 2,
    table: str = "embeddings",
    id_col: str = "vec_id",
    target_cluster_size: int = TARGET_CLUSTER_SIZE,
) -> str:
    """DuckDB twin of kmeans_clusters: the same Lloyd CTE unrolling as
    cosine_topk_ivf_oracle_sql, ending at the final corpus assignment.
    ``n_clusters=None`` derives k = ceil(N/target) as a scalar subquery —
    the same arithmetic the engine runs, so the twins stay in lockstep."""
    cos_assign = _cos_sql("v.emb", "cent.cv")
    k_expr = _n_clusters_sql(n_clusters, target_cluster_size, table)
    ctes = [
        f"""cent0 AS (
        SELECT {id_col} AS cell, embedding AS cv FROM {table}
        WHERE {id_col} < {k_expr})"""
    ]
    for i in range(1, lloyd_iters + 1):
        ctes.append(f"""la{i} AS (
        SELECT * FROM (
            SELECT v.vec_id, v.emb, cent.cell,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                       ORDER BY {cos_assign} DESC, cent.cell) AS r
            FROM (SELECT {id_col} AS vec_id, embedding AS emb FROM {table}) v
            CROSS JOIN cent{i - 1} cent) WHERE r = 1)""")
        ctes.append(f"""cent{i} AS (
        SELECT cell, list(m ORDER BY pos) AS cv FROM (
            SELECT cell, pos,
                   CAST(SUM(CAST(CAST(val AS DOUBLE) AS DECIMAL(38,12)))
                        AS DOUBLE) / COUNT(val) AS m
            FROM (SELECT cell, unnest(emb) AS val,
                         generate_subscripts(emb, 1) AS pos FROM la{i})
            GROUP BY cell, pos)
        GROUP BY cell)""")
    final = f"cent{lloyd_iters}"
    ctes.append(f"""corpus_assign AS (
        SELECT v.vec_id, cent.cell,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                   ORDER BY {cos_assign} DESC, cent.cell) AS r
        FROM (SELECT {id_col} AS vec_id, embedding AS emb FROM {table}) v
        CROSS JOIN {final} cent)""")
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT vec_id AS {id_col}, cell AS cluster FROM corpus_assign WHERE r = 1
    """


# --- Semantic dedup (SemDeDup) ----------------------------------------------
# Abbas et al. 2023 (arXiv:2303.09540): k-means the embedding space, then
# look for near-duplicate pairs ONLY within each cluster — the cluster
# assignment replaces the all-pairs comparison the same way LSH bands do for
# MinHash. At 100 TB, k grows with the corpus (k ≈ N / target cell size), so
# the per-cluster candidate set stays bounded while the clustering itself
# remains one broadcast-assign scan per Lloyd round.


def semantic_dedup_pairs(
    corpus: DataFrame,
    threshold: float = 0.3,
    n_clusters: int | None = None,
    lloyd_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_cluster_size: int = TARGET_CLUSTER_SIZE,
) -> DataFrame:
    """Within-cluster embedding pairs with cosine >= threshold — the
    SemDeDup candidate structure. The only corpus-wide shuffle is the
    cluster-keyed self-join; cosine is the same sequential-fold JVM
    expression the DuckDB oracle reproduces bit-for-bit.

    ``n_clusters=None`` derives k = ceil(N/target_cluster_size): the
    within-cluster stage is quadratic PER CELL, so bounding the cell
    population is what keeps total pair work at O(N * target) — linear in
    the corpus — at every scale. A fixed k is an all-pairs join in
    disguise once N outgrows k * target."""
    corpus = drop_null_vectors(corpus, vec_col)
    # Precompute each vector's norm ONCE before the pair join: cosine per
    # pair is then a single O(dim) dot product instead of three aggregates
    # (3x less array work on the quadratic within-cluster stage). sqrt of
    # the same sequential sum-of-squares → bit-identical to inline cosine.
    # kmeans_assign keeps the vector next to its cluster, so no id join-back.
    v = kmeans_assign(
        corpus.select(F.col(id_col), F.col(vec_col)),
        n_clusters=n_clusters, lloyd_iters=lloyd_iters,
        id_col=id_col, vec_col=vec_col,
        target_cluster_size=target_cluster_size,
    ).withColumn("_n", norm(F.col(vec_col)))
    # Materialize (vector, cluster, norm) once: the pair stage self-joins
    # this frame, and without a lineage cut the Arrow assign kernel runs
    # twice. This is the cluster-assignment table a production SemDeDup
    # would persist between the clustering and pruning passes anyway.
    v = v.transform(lineage_cut)
    a = v.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("ea"),
        F.col("_n").alias("na"), "cluster",
    )
    b = v.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("eb"),
        F.col("_n").alias("nb"), "cluster",
    )
    # try_divide across the cosine family: a ZERO vector has norm 0 and
    # ANSI division throws where the SQL twins' CASE WHEN den > 0 guard
    # yields NULL — NULL cosines then fail every downstream threshold/
    # rank comparison, which is the correct "undefined similarity"
    # semantics (found by the round-11 degenerate-payload sweep)
    cos = F.try_divide(
        dot(F.col("ea"), F.col("eb")), F.col("na") * F.col("nb")
    )
    return (
        a.join(b, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", cos)
        .filter(F.col("cos_sim") >= threshold)
        .select("cluster", "id_a", "id_b",
                F.round("cos_sim", 6).alias("cos_sim"))
    )


def semantic_dedup_oracle_sql(
    threshold: float = 0.3,
    n_clusters: int | None = None,
    lloyd_iters: int = 2,
    table: str = "embeddings",
    id_col: str = "vec_id",
    target_cluster_size: int = TARGET_CLUSTER_SIZE,
) -> str:
    """DuckDB twin of semantic_dedup_pairs: the kmeans_clusters oracle as a
    CTE, then the same within-cluster join + cosine threshold."""
    kmeans = kmeans_clusters_oracle_sql(
        n_clusters=n_clusters, lloyd_iters=lloyd_iters, table=table,
        id_col=id_col, target_cluster_size=target_cluster_size,
    )
    cos = _cos_sql("a.embedding", "b.embedding")
    return f"""
    WITH ka AS ({kmeans})
    SELECT ka_a.cluster AS cluster, a.{id_col} AS id_a, b.{id_col} AS id_b,
           ROUND({cos}, 6) AS cos_sim
    FROM {table} a
    JOIN ka ka_a ON a.{id_col} = ka_a.{id_col}
    JOIN ka ka_b ON ka_a.cluster = ka_b.cluster AND ka_b.{id_col} > ka_a.{id_col}
    JOIN {table} b ON b.{id_col} = ka_b.{id_col}
    WHERE {cos} >= {threshold}
    """


# --- Johnson-Lindenstrauss random projection ---------------------------------
# Achlioptas 2003: +-1 projections preserve pairwise angles to O(1/sqrt(k)).
# The planes are the seeded md5-parity hyperplanes already used by sign-LSH,
# so the projection is RNG-free and bit-identical on both engines; the
# distortion measurement (projected cosine vs original cosine on a linear
# chain of pairs) makes the quality claim a gated number instead of a cite.


def jl_project(vec: Column | str, planes: list[list[float]]) -> Column:
    """k-dim signed-random projection of a vector column: one sequential
    +-1 fold per output dim (same IEEE order as the bucket kernel).

    Parsed from ONE SQL string (r14): the Column form built out_dim ×
    in_dim literal Columns plus two lambda conversions per plane —
    ~1,100 py4j round trips, ~2 s of driver wall per call. The weights
    are exactly ±1.0 (seeded_hyperplanes), so the `1.0D` / `-1.0D` SQL
    literals are the same IEEE doubles F.lit produced; the lambda fold
    order is unchanged. Accepts the column NAME (preferred) or a bare
    column-reference Column; either resolves exactly as ``F.col`` would,
    and every name part is backtick-quoted into the SQL, so names with
    spaces or quoted dots stay one column. Any other Column (a function,
    an alias, an arithmetic expression) raises ValueError — its SQL
    rendering would otherwise be pasted into the fold unchecked."""
    col = F.col(vec) if isinstance(vec, str) else vec
    node = col._jc.node()
    if node.getClass().getSimpleName() != "UnresolvedAttribute":
        raise ValueError(
            f"jl_project: {col} is not a bare column reference; pass the "
            "column name or F.col(name)"
        )
    parts = node.nameParts()
    vec_expr = ".".join(
        "`" + parts.apply(i).replace("`", "``") + "`" for i in range(parts.size())
    )
    projs = []
    for plane in planes:
        arr = ", ".join(f"{w!r}D" for w in plane)
        projs.append(
            f"aggregate(zip_with({vec_expr}, array({arr}),"
            " (x, w) -> CAST(x AS DOUBLE) * w),"
            " 0.0D, (acc, v) -> acc + v)"
        )
    return F.expr(f"array({', '.join(projs)})")


def jl_distortion_pairs(
    corpus: DataFrame,
    out_dim: int = 16,
    in_dim: int = 64,
    seed: int = 11,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cosine in the original space vs the JL-projected space for the
    deterministic chain pairs (id, id+1): id_a, id_b, cos_orig, cos_proj,
    abs_err. The chain gives corpus-size-many pairs with ONE equi-join
    (no sampling RNG, no quadratic stage); projection is a row-local map,
    so the whole measurement is one linear pass + one join at any scale."""
    planes = seeded_hyperplanes(n_bits=out_dim, dim=in_dim, seed=seed)
    v = corpus.select(
        F.col(id_col), F.col(vec_col).alias("v"),
        jl_project(vec_col, planes).alias("p"),
    )
    a = v.select(
        F.col(id_col).alias("id_a"), F.col("v").alias("va"), F.col("p").alias("pa")
    )
    b = v.select(
        F.col(id_col).alias("id_b"), F.col("v").alias("vb"), F.col("p").alias("pb")
    )
    co = cosine(F.col("va"), F.col("vb"))
    cp = cosine(F.col("pa"), F.col("pb"))
    return (
        a.join(b, F.col("id_a") + 1 == F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(co, 6).alias("cos_orig"),
            F.round(cp, 6).alias("cos_proj"),
            F.round(F.abs(co - cp), 6).alias("abs_err"),
        )
    )


SQ8_LEVELS = 255


def sq8_bounds(
    corpus: DataFrame, vec_col: str = "embedding", dim: int = 64
) -> DataFrame:
    """Per-dimension [min, max] over the corpus as ONE 1-row DataFrame with
    two array<double> columns (mn, mx). 2*dim scalar aggregates in a single
    pass — map-side partial min/max, a few KB shuffled total, no explode of
    the vector column (a posexplode+groupBy(dim) would shuffle n_rows*dim
    rows for the same answer)."""
    aggs = []
    for j in range(dim):
        e = F.element_at(F.col(vec_col), j + 1).cast("double")
        aggs.append(F.min(e).alias(f"_mn{j}"))
        aggs.append(F.max(e).alias(f"_mx{j}"))
    return corpus.agg(*aggs).select(
        F.array(*[F.col(f"_mn{j}") for j in range(dim)]).alias("mn"),
        F.array(*[F.col(f"_mx{j}") for j in range(dim)]).alias("mx"),
    )


def _sq8_code(x: Column, lo: Column, hi: Column) -> Column:
    """Quantization code in [0, 255] as a double (the exact value both
    engines feed the reconstruction): round(((x-lo)*255)/(hi-lo)) clamped.
    Constant dimensions (hi == lo) code to 0."""
    scaled = ((x.cast("double") - lo) * F.lit(255.0)) / (hi - lo)
    return F.when(
        hi > lo,
        F.least(F.lit(255.0), F.greatest(F.lit(0.0), F.round(scaled, 0))),
    ).otherwise(F.lit(0.0))


def sq8_codes(vec: Column, mn: Column, mx: Column) -> Column:
    """int8-range scalar-quantization codes (array<int>, values 0..255) —
    the stored artifact: 1 byte/dim vs 4 for float32, a 4x cut in ANN
    index memory and shuffle width."""

    def code(x, i):
        return _sq8_code(x, F.element_at(mn, i + 1), F.element_at(mx, i + 1)).cast(
            "int"
        )

    return F.transform(vec, code)


def sq8_decode(codes: Column, mn: Column, mx: Column) -> Column:
    """Dequantize STORED codes (array<int>, 0..255): lo + code*(hi-lo)/255
    per dimension — the read half of :func:`sq8_codes`, arithmetic
    identical to :func:`sq8_reconstruct`'s (which quantizes and
    dequantizes a float vector in one expression), so a vector round-
    tripped through the persisted code artifact reconstructs to the same
    IEEE doubles as the in-plan reconstruction."""

    def dec(c, i):
        lo = F.element_at(mn, i + 1)
        hi = F.element_at(mx, i + 1)
        return lo + (c.cast("double") * (hi - lo)) / F.lit(255.0)

    return F.transform(codes, dec)


def sq8_reconstruct(vec: Column, mn: Column, mx: Column) -> Column:
    """Dequantized vector: lo + (code * (hi - lo)) / 255 per dimension.
    Every step is the same IEEE double expression DuckDB's twin evaluates,
    so reconstructed values (and cosines over them) are bit-identical."""

    def recon(x, i):
        lo = F.element_at(mn, i + 1)
        hi = F.element_at(mx, i + 1)
        return lo + (_sq8_code(x, lo, hi) * (hi - lo)) / F.lit(255.0)

    return F.transform(vec, recon)


def cosine_topk_sq8(
    corpus: DataFrame,
    k: int = 5,
    n_queries: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """ANN top-k over int8 scalar-quantized vectors, with the quantization
    error made visible: for each of the first ``n_queries`` vectors, rank
    neighbors by cosine over RECONSTRUCTED (quantize->dequantize) vectors
    and report the exact-float cosine and |error| alongside.

    Distributed shape: bounds are one tiny 1-row aggregate broadcast onto
    the scan (corpus never shuffles for quantization — it's a row-local
    map); scoring reuses the brute-force broadcast-queries pattern. At
    100 TB the payoff is upstream of this query: the codes array is 1/4
    the bytes of float32, so an IVF/LSH index built over codes shuffles
    and caches 4x less; this operator pins the recall/error contract of
    that compression.
    """
    b = F.broadcast(sq8_bounds(corpus, vec_col=vec_col, dim=dim))
    # Precompute per-row norms BEFORE the pair join (the semantic_dedup
    # trick): norm(x) is pair-independent, so inlining it in the cosine
    # would recompute the same 64-term fold n_queries times per corpus
    # row. Same sequential fold + sqrt → bit-identical to inline cosine.
    v = corpus.crossJoin(b).select(
        F.col(id_col),
        F.col(vec_col).alias("v"),
        sq8_reconstruct(F.col(vec_col), F.col("mn"), F.col("mx")).alias("rv"),
    ).withColumn("vn", norm(F.col("v"))).withColumn("rn", norm(F.col("rv")))
    q = F.broadcast(
        v.filter(F.col(id_col) < n_queries).select(
            F.col(id_col).alias("query_id"),
            F.col("v").alias("qv"),
            F.col("rv").alias("qrv"),
            F.col("vn").alias("qvn"),
            F.col("rn").alias("qrn"),
        )
    )
    c = v.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("rv").alias("crv"),
        F.col("vn").alias("cvn"),
        F.col("rn").alias("crn"),
    )
    cos_q = F.try_divide(
        dot(F.col("qrv"), F.col("crv")), F.col("qrn") * F.col("crn")
    )
    cos_x = F.try_divide(
        dot(F.col("qv"), F.col("cv")), F.col("qvn") * F.col("cvn")
    )
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cos_q, 6).alias("cos_sq8"),
            F.round(cos_x, 6).alias("cos_exact"),
            F.round(F.abs(cos_q - cos_x), 6).alias("abs_err"),
        )
    )
    return _rank_neighbors(scored, "cos_sq8", k, cols=("cos_exact", "abs_err"))


def _sq8_recon_sql(vec: str, dim: int = 64) -> str:
    """DuckDB reconstruction list: same clamp/round/affine ops in the same
    order as sq8_reconstruct (mn/mx come from the bounds CTE row)."""
    x = f"CAST({vec}[i] AS DOUBLE)"
    code = (
        f"least(CAST(255 AS DOUBLE), greatest(CAST(0 AS DOUBLE), "
        f"round((({x} - mn[i]) * CAST(255 AS DOUBLE)) / (mx[i] - mn[i]))))"
    )
    recon = (
        f"CASE WHEN mx[i] > mn[i] "
        f"THEN mn[i] + ({code} * (mx[i] - mn[i])) / CAST(255 AS DOUBLE) "
        f"ELSE mn[i] + (CAST(0 AS DOUBLE) * (mx[i] - mn[i])) / CAST(255 AS DOUBLE) END"
    )
    return f"[{recon} for i in range(1, {dim + 1})]"


def sq8_topk_oracle_sql(
    k: int = 5, n_queries: int = 5, table: str = "embeddings", dim: int = 64
) -> str:
    """DuckDB twin of cosine_topk_sq8: per-dim bounds via
    generate_subscripts, identical quantize->dequantize arithmetic,
    identical cosine folds and tie-break."""
    cos_q = _cos_sql("q.qrv", "c.crv")
    cos_x = _cos_sql("q.qv", "c.cv")
    return f"""
    WITH dims AS (
        SELECT ord, MIN(CAST(val AS DOUBLE)) AS lo, MAX(CAST(val AS DOUBLE)) AS hi
        FROM (SELECT unnest(embedding) AS val,
                     generate_subscripts(embedding, 1) AS ord FROM {table})
        GROUP BY ord),
    bounds AS (
        SELECT list(lo ORDER BY ord) AS mn, list(hi ORDER BY ord) AS mx
        FROM dims),
    recon AS (
        SELECT vec_id, embedding AS v,
               {_sq8_recon_sql("embedding", dim)} AS rv
        FROM {table}, bounds),
    q AS (SELECT vec_id AS query_id, v AS qv, rv AS qrv FROM recon
          WHERE vec_id < {n_queries}),
    c AS (SELECT vec_id AS neighbor_id, v AS cv, rv AS crv FROM recon),
    scored AS (
        SELECT q.query_id, c.neighbor_id,
               ROUND({cos_q}, 6) AS cos_sq8,
               ROUND({cos_x}, 6) AS cos_exact,
               ROUND(ABS({cos_q} - {cos_x}), 6) AS abs_err
        FROM q CROSS JOIN c WHERE q.query_id <> c.neighbor_id),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cos_sq8 DESC, neighbor_id) AS rank
        FROM scored)
    SELECT query_id, neighbor_id, cos_sq8, cos_exact, abs_err, rank
    FROM ranked WHERE rank <= {k}
    """


def jl_distortion_oracle_sql(
    out_dim: int = 16,
    in_dim: int = 64,
    seed: int = 11,
    table: str = "embeddings",
    id_col: str = "vec_id",
) -> str:
    """DuckDB twin of jl_distortion_pairs: identical +-1 literals in the
    identical fold order, chain pairs, same cosine expressions."""
    planes = seeded_hyperplanes(n_bits=out_dim, dim=in_dim, seed=seed)
    proj_terms = []
    for plane in planes:
        lits = "[" + ", ".join(f"{w:.1f}" for w in plane) + "]"
        proj_terms.append(
            f"list_sum([CAST(embedding[i] AS DOUBLE) * ({lits})[i] "
            f"for i in range(1, {in_dim + 1})])"
        )
    proj_list = "[" + ", ".join(proj_terms) + "]"
    co = _cos_sql("a.v", "b.v")
    cp = _cos_sql("a.p", "b.p")
    return f"""
    WITH proj AS (
        SELECT {id_col}, embedding AS v, {proj_list} AS p FROM {table}
    )
    SELECT a.{id_col} AS id_a, b.{id_col} AS id_b,
           ROUND({co}, 6) AS cos_orig,
           ROUND({cp}, 6) AS cos_proj,
           ROUND(ABS({co} - {cp}), 6) AS abs_err
    FROM proj a JOIN proj b ON a.{id_col} + 1 = b.{id_col}
    """


# --- Product quantization (PQ) ANN -------------------------------------------
# Jégou et al. 2011 ("Product Quantization for Nearest Neighbor Search"):
# split each vector into m subvectors, k-means each subspace independently,
# store each vector as m one-byte codes. With m=4 k=16 over 64 dims that is
# 4 bytes per vector vs 256 for float32 — a 64x index compression — and
# queries score via ADC (asymmetric distance computation: the QUERY stays
# exact, only the corpus side is reconstructed from codebooks).



def _l2_sq(a: Column, b: Column) -> Column:
    """Squared L2 distance as the same sequential double fold as the
    cosine kernels (bit-identical to the DuckDB comprehension twin)."""
    d = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double"))
    )
    return F.aggregate(d, F.lit(0.0), lambda acc, v: acc + v)


def _pq_subvecs(
    corpus: DataFrame,
    m: int = PQ_M,
    dsub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(id, j, sv): the corpus exploded into its m subspace views — a
    row-local map, no shuffle. Any extra columns named in ``carry`` ride
    along unchanged.

    The vector dimension is guarded IN THE PLAN (row-local when, no
    extra job): a NON-NULL vector whose size is not exactly m*dsub dies
    loudly at execution. Without the guard F.slice silently returns
    short/empty subvectors, the codebook join then yields NULL
    distances, and every downstream cosine over the truncated
    reconstruction is NULL — an index full of garbage with no error
    anywhere. NULL vectors pass through untouched (size(NULL) is NULL,
    never a mismatch): the admission rule / null-cosine semantics
    downstream own them, exactly as before the guard existed — the
    all-NULL corpus sweep caught a first version that raised on them."""
    checked = F.when(
        F.col(vec_col).isNull() | (F.size(F.col(vec_col)) == m * dsub),
        F.col(vec_col),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"PQ geometry mismatch: vector dim must be m*dsub = {m * dsub}, got "
                ),
                F.size(F.col(vec_col)).cast("string"),
                F.lit(f" (id_col={id_col})"),
            )
        )
    )
    subs = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                F.slice(checked, j * dsub + 1, dsub).alias("sv"),
            )
            for j in range(m)
        ]
    )
    return corpus.select(
        F.col(id_col), *carry, F.explode(subs).alias("_s")
    ).select(
        id_col, *carry, F.col("_s.j").alias("j"), F.col("_s.sv").alias("sv")
    )


def _contains_map(dt) -> bool:
    """True when a dataType contains a MapType anywhere — the one Spark
    type family that struct ordering (and thus the min-struct argmin)
    cannot compare."""
    from pyspark.sql.types import ArrayType, MapType, StructType  # noqa: PLC0415

    if isinstance(dt, MapType):
        return True
    if isinstance(dt, ArrayType):
        return _contains_map(dt.elementType)
    if isinstance(dt, StructType):
        return any(_contains_map(f.dataType) for f in dt.fields)
    return False


def _pq_assign_codes(
    sub: DataFrame, cent: DataFrame, keys: tuple[str, ...]
) -> DataFrame:
    """THE PQ code-assignment rule, in one place: argmin squared-L2 per
    (row, subspace) against the broadcast (j, cell, cv) codebook, ties
    broken by lowest cell. The codebook trainer, the in-plan ADC
    operator, and the persisted-index encode must agree on this rule —
    a tiebreak tweak replicated by hand would let the index and its
    oracle silently disagree. Returns the winning joined row per
    (*keys, j) with ``_d`` dropped; callers project.

    The argmin is a hash aggregate over min(struct(_d, cell, ...)) —
    struct ordering compares _d first, then cell, so the winner and the
    tie-break are EXACTLY the old row_number window's (_d asc, cell asc),
    but the aggregate partial-aggregates map-side: the shuffle carries one
    candidate per (row, subspace) instead of the full k-way candidate
    fan-out, and there is no sort (k-fold fewer shuffled rows at any
    scale). The trailing struct fields ride along for free: cell is
    unique per (row, j) group, so fields after it never affect ordering."""
    joined = sub.join(F.broadcast(cent), "j").withColumn(
        "_d", _l2_sq(F.col("sv"), F.col("cv"))
    )
    extra = [
        c for c in joined.columns if c not in (*keys, "j", "_d", "cell")
    ]
    # Orderability guard (ADVICE r13): every carried column rides inside
    # min(struct(...)), which requires an orderable type — a map-typed
    # carry would fail at analysis with an opaque error. The fields must
    # come from the WINNING row (first() would detach them from the
    # argmin), so the honest contract is a loud, early refusal.
    unorderable = [c for c in extra if _contains_map(joined.schema[c].dataType)]
    if unorderable:
        raise TypeError(
            f"_pq_assign_codes: carried column(s) {unorderable} contain a "
            "MapType, which cannot ride inside the min(struct(...)) argmin "
            "(struct ordering requires orderable fields). Project them out "
            f"and re-join on ({', '.join(keys)}, j, cell) after assignment."
        )
    win = joined.groupBy(*keys, "j").agg(
        F.min(F.struct("_d", "cell", *extra)).alias("_w")
    )
    return win.select(
        *keys,
        "j",
        F.col("_w.cell").alias("cell"),
        *[F.col(f"_w.{c}").alias(c) for c in extra],
    )


def pq_codebooks(
    corpus: DataFrame,
    m: int = PQ_M,
    dsub: int = 16,
    k: int = PQ_K,
    lloyd_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_ids: list | None = None,
) -> DataFrame:
    """Per-subspace codebooks (j, cell, cv) learned by deterministic
    k-means: seeds are the k lowest-id vectors' subvectors, assignment is
    argmin squared-L2 (ties: lowest cell), refinement is the repo's
    order-independent decimal mean. All m subspaces train in ONE plan —
    the subspace id is just another grouping key.

    Scale: assignment joins the (N*m)-row subvector stream against a
    BROADCAST m*k-row codebook; means shuffle (m*k*dsub) cells. Production
    PQ trains on a sample — the full-corpus pass here is the exactness the
    oracle gate needs, and it is still linear in N."""
    sub = _pq_subvecs(corpus, m=m, dsub=dsub, id_col=id_col, vec_col=vec_col)
    if seed_ids is None:
        cent = (
            sub.filter(F.col(id_col) < k)
            .select("j", F.col(id_col).alias("cell"), F.col("sv").alias("cv"))
        )
    else:
        # retrain path: the default seed rule (id < k) assumes a corpus
        # whose lowest ids are 0..k-1, which an index's SURVIVOR set need
        # not satisfy — explicit seed ids map to dense cells 0..k-1 by
        # rank (a k-entry when-chain; k is codebook metadata, never data)
        sids = sorted(seed_ids)[:k]
        if not sids:
            raise ValueError(
                "pq_codebooks: seed_ids is empty — no surviving vectors "
                "to seed the codebooks from (empty index/corpus?)"
            )
        cell_of = F.when(F.col(id_col) == sids[0], F.lit(0))
        for i, sid in enumerate(sids[1:], start=1):
            cell_of = cell_of.when(F.col(id_col) == sid, F.lit(i))
        cent = (
            sub.filter(F.col(id_col).isin(sids))
            .select("j", cell_of.alias("cell"), F.col("sv").alias("cv"))
        )
    for _ in range(lloyd_iters):
        assigned = _pq_assign_codes(sub, cent, keys=(id_col,))
        cent = _cell_means(assigned, ("j", "cell"), "sv").transform(lineage_cut)
    return cent


def cosine_topk_pq(
    corpus: DataFrame,
    k_neighbors: int = 5,
    n_queries: int = 5,
    m: int = PQ_M,
    dsub: int = 16,
    k: int = PQ_K,
    lloyd_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ-ADC ANN top-k with the compression error made visible: corpus
    vectors are reconstructed from their m one-byte codes (64x smaller
    than float32), queries stay exact, and each hit reports the ADC cosine
    next to the exact cosine and |error|.

    Plan shape: codebooks broadcast everywhere they appear (m*k rows);
    code assignment and reconstruction are broadcast joins over row-local
    streams; the only corpus-keyed shuffle is the per-id regroup of m code
    rows. Scoring reuses the broadcast-queries brute-force pattern."""
    cent = pq_codebooks(
        corpus, m=m, dsub=dsub, k=k, lloyd_iters=lloyd_iters,
        id_col=id_col, vec_col=vec_col,
    )
    sub = _pq_subvecs(corpus, m=m, dsub=dsub, id_col=id_col, vec_col=vec_col)
    codes = _pq_assign_codes(sub, cent, keys=(id_col,)).select(
        id_col, "j", "cell"
    )
    recon = (
        codes.join(F.broadcast(cent), ["j", "cell"])
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("j", "cv"))),
                    lambda x: x["cv"],
                )
            ).alias("rv")
        )
    )
    # Pair-independent norms precomputed before the scoring join (the
    # semantic_dedup trick — same fold, bit-identical to inline cosine).
    v = (
        corpus.select(F.col(id_col), F.col(vec_col).alias("v"))
        .join(recon, id_col)
        .withColumn("vn", norm(F.col("v")))
        .withColumn("rn", norm(F.col("rv")))
    )
    # materialize (vector, reconstruction, norms) once: both the query and
    # corpus branches read it, and without a lineage cut the whole
    # codebook-train + assign subtree runs twice (the semantic_dedup fix)
    v = v.transform(lineage_cut)
    q = F.broadcast(
        v.filter(F.col(id_col) < n_queries).select(
            F.col(id_col).alias("query_id"),
            F.col("v").alias("qv"),
            F.col("vn").alias("qvn"),
        )
    )
    c = v.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("rv").alias("crv"),
        F.col("vn").alias("cvn"),
        F.col("rn").alias("crn"),
    )
    cos_pq = F.try_divide(
        dot(F.col("qv"), F.col("crv")), F.col("qvn") * F.col("crn")
    )
    cos_x = F.try_divide(
        dot(F.col("qv"), F.col("cv")), F.col("qvn") * F.col("cvn")
    )
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cos_pq, 6).alias("cos_pq"),
            F.round(cos_x, 6).alias("cos_exact"),
            F.round(F.abs(cos_pq - cos_x), 6).alias("abs_err"),
        )
    )
    return _rank_neighbors(
        scored, "cos_pq", k_neighbors, cols=("cos_exact", "abs_err")
    )


def _l2_sql(av: str, bv: str, dim: int) -> str:
    return (
        f"list_sum([(CAST({av}[i] AS DOUBLE) - CAST({bv}[i] AS DOUBLE)) * "
        f"(CAST({av}[i] AS DOUBLE) - CAST({bv}[i] AS DOUBLE)) "
        f"for i in range(1, {dim + 1})])"
    )


def pq_topk_oracle_sql(
    k_neighbors: int = 5,
    n_queries: int = 5,
    m: int = PQ_M,
    dsub: int = 16,
    k: int = PQ_K,
    lloyd_iters: int = 1,
    table: str = "embeddings",
    id_col: str = "vec_id",
) -> str:
    """DuckDB twin of cosine_topk_pq: same seeds, same argmin-L2 fold,
    same decimal means, same ADC cosine and tie-breaks. CTEs are
    MATERIALIZED — the chained rounds re-expand exponentially otherwise."""
    l2 = _l2_sql("s.sv", "cent.cv", dsub)
    ctes = [
        f"""sub AS MATERIALIZED (
        SELECT {id_col} AS vid, j,
               list_slice(embedding, j * {dsub} + 1, j * {dsub} + {dsub}) AS sv
        FROM (SELECT {id_col}, embedding,
                     unnest(range(0, {m})) AS j FROM {table}))""",
        f"""cent0 AS MATERIALIZED (
        SELECT j, vid AS cell, sv AS cv FROM sub WHERE vid < {k})""",
    ]
    for i in range(1, lloyd_iters + 1):
        ctes.append(f"""la{i} AS MATERIALIZED (
        SELECT * FROM (
            SELECT s.vid, s.j, s.sv, cent.cell,
                   ROW_NUMBER() OVER (PARTITION BY s.vid, s.j
                       ORDER BY {l2} ASC, cent.cell) AS r
            FROM sub s JOIN cent{i - 1} cent ON s.j = cent.j) WHERE r = 1)""")
        ctes.append(f"""cent{i} AS MATERIALIZED (
        SELECT j, cell, list(mm ORDER BY pos) AS cv FROM (
            SELECT j, cell, pos,
                   CAST(SUM(CAST(CAST(val AS DOUBLE) AS DECIMAL(38,12)))
                        AS DOUBLE) / COUNT(val) AS mm
            FROM (SELECT j, cell, unnest(sv) AS val,
                         generate_subscripts(sv, 1) AS pos FROM la{i})
            GROUP BY j, cell, pos)
        GROUP BY j, cell)""")
    final = f"cent{lloyd_iters}"
    ctes.append(f"""codes AS MATERIALIZED (
        SELECT * FROM (
            SELECT s.vid, s.j, cent.cell,
                   ROW_NUMBER() OVER (PARTITION BY s.vid, s.j
                       ORDER BY {l2} ASC, cent.cell) AS r
            FROM sub s JOIN {final} cent ON s.j = cent.j) WHERE r = 1)""")
    ctes.append(f"""recon AS MATERIALIZED (
        SELECT vid, flatten(list(cv ORDER BY j)) AS rv
        FROM codes JOIN {final} cent USING (j, cell)
        GROUP BY vid)""")
    ctes.append(f"""vv AS MATERIALIZED (
        SELECT t.{id_col} AS vid, t.embedding AS v, recon.rv
        FROM {table} t JOIN recon ON t.{id_col} = recon.vid)""")
    cos_pq = _cos_sql("q.qv", "c.crv")
    cos_x = _cos_sql("q.qv", "c.cv")
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined},
    q AS (SELECT vid AS query_id, v AS qv FROM vv WHERE vid < {n_queries}),
    c AS (SELECT vid AS neighbor_id, v AS cv, rv AS crv FROM vv),
    scored AS (
        SELECT q.query_id, c.neighbor_id,
               ROUND({cos_pq}, 6) AS cos_pq,
               ROUND({cos_x}, 6) AS cos_exact,
               ROUND(ABS({cos_pq} - {cos_x}), 6) AS abs_err
        FROM q CROSS JOIN c WHERE q.query_id <> c.neighbor_id),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cos_pq DESC, neighbor_id) AS rank
        FROM scored)
    SELECT query_id, neighbor_id, cos_pq, cos_exact, abs_err, rank
    FROM ranked WHERE rank <= {k_neighbors}
    """


# --- IVF-PQ composite ANN ----------------------------------------------------
# The FAISS production configuration (Jégou et al. 2011 §IV): coarse IVF
# cells prune the search to n_probe cells, and within cells the vectors are
# stored as PQ codes of their RESIDUAL (x - coarse_centroid) — residuals
# concentrate near zero, so the same codebook budget quantizes them far
# better than raw vectors. Index bytes per vector: m codes + a cell id.


def cosine_topk_ivfpq(
    corpus: DataFrame,
    k_neighbors: int = 5,
    n_queries: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    lloyd_iters: int = 2,
    m: int = PQ_M,
    dsub: int = 16,
    pq_k: int = PQ_K,
    pq_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ ANN top-k: coarse cells exactly as cosine_topk_ivf
    (deterministic lowest-id seeds + decimal-mean Lloyd), then PQ
    codebooks trained on cell RESIDUALS; queries stay exact, probe their
    ``n_probe`` nearest cells, and score against coarse_centroid +
    PQ-reconstructed residual. Reports the exact cosine and |error| per
    hit, like the flat SQ8/PQ queries.

    Scale shape: everything the flat PQ path broadcasts still broadcasts;
    the probe join reads ~n_probe/n_centroids of the reconstructed corpus
    per query instead of all of it — IVF's pruning and PQ's 64x
    compression compose multiplicatively on the index bytes a query
    touches."""
    corpus = drop_null_vectors(corpus, vec_col)
    spark = corpus.sparkSession
    cent_rows = _train_centroids(corpus, n_centroids, lloyd_iters, id_col, vec_col)
    cent_df = F.broadcast(
        spark.createDataFrame(
            [(c, v) for c, v in cent_rows], "cell bigint, ccv array<double>"
        )
    )
    indexed = ivf_assign_arrow(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")),
        cent_rows,
        vec_col="cv",
        widen=True,
    )
    resid = (
        indexed.join(cent_df, "cell")
        .withColumn(
            "rv", F.zip_with("cv", "ccv", lambda x, c: x.cast("double") - c)
        )
        .transform(lineage_cut)
    )
    cb = pq_codebooks(
        resid.select("neighbor_id", "rv"),
        m=m, dsub=dsub, k=pq_k, lloyd_iters=pq_iters,
        id_col="neighbor_id", vec_col="rv",
    ).select("j", F.col("cell").alias("code"), F.col("cv").alias("pcv"))
    sub = _pq_subvecs(
        resid.select("neighbor_id", "rv"), m=m, dsub=dsub,
        id_col="neighbor_id", vec_col="rv",
    )
    # same argmin-as-aggregate shape as _pq_assign_codes (min over
    # struct(_d, code) ≡ the old (_d asc, code asc) window, partial-
    # aggregable map-side — k-fold fewer shuffled rows)
    codes = (
        sub.join(F.broadcast(cb), "j")
        .withColumn("_d", _l2_sq(F.col("sv"), F.col("pcv")))
        .groupBy("neighbor_id", "j")
        .agg(F.min(F.struct("_d", "code")).alias("_w"))
        .select("neighbor_id", "j", F.col("_w.code").alias("code"))
    )
    rrec = (
        codes.join(F.broadcast(cb), ["j", "code"])
        .groupBy("neighbor_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("j", "pcv"))),
                    lambda x: x["pcv"],
                )
            ).alias("rr")
        )
    )
    # no cut: xhat has exactly ONE consumer (the probe join below) — a
    # materialization here was a full extra pass that bought nothing
    # (the cuts that stay, resid and the codebook rounds, each feed 2+
    # consumers)
    xhat = (
        resid.select("neighbor_id", "cell", "cv", "ccv")
        .join(rrec, "neighbor_id")
        .withColumn("xh", F.zip_with("ccv", "rr", lambda c, r: c + r))
        .withColumn("xn", norm(F.col("xh")))
        .withColumn("cn", norm(F.col("cv")))
    )
    probes = _probe_cells(
        corpus.filter(F.col(id_col) < n_queries), cent_rows, n_probe, id_col, vec_col
    ).withColumn("qn", norm(F.col("qv")))
    cos_a = F.try_divide(
        dot(F.col("qv"), F.col("xh")), F.col("qn") * F.col("xn")
    )
    cos_x = F.try_divide(
        dot(F.col("qv"), F.col("cv")), F.col("qn") * F.col("cn")
    )
    scored = (
        F.broadcast(probes)
        .join(xhat, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cos_a, 6).alias("cos_ivfpq"),
            F.round(cos_x, 6).alias("cos_exact"),
            F.round(F.abs(cos_a - cos_x), 6).alias("abs_err"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _rank_neighbors(
        scored, "cos_ivfpq", k_neighbors, cols=("cos_exact", "abs_err")
    )


def ivfpq_topk_oracle_sql(
    k_neighbors: int = 5,
    n_queries: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    lloyd_iters: int = 2,
    m: int = PQ_M,
    dsub: int = 16,
    pq_k: int = PQ_K,
    pq_iters: int = 1,
    table: str = "embeddings",
    dim: int = 64,
) -> str:
    """DuckDB twin of cosine_topk_ivfpq: the IVF oracle's coarse CTEs,
    residual construction, the PQ oracle's per-subspace Lloyd CTEs over
    residuals, reconstruction as coarse + residual, probe-pruned ADC
    scoring. All CTEs MATERIALIZED (chained scalar refs re-expand
    exponentially otherwise)."""
    cos_assign = _cos_sql("v.emb", "cent.cv")
    l2 = _l2_sql("s.sv", "cent.pcv", dsub)
    ctes = [
        f"""cent0 AS MATERIALIZED (
        SELECT vec_id AS cell, embedding AS cv FROM {table}
        WHERE vec_id < {n_centroids})"""
    ]
    for i in range(1, lloyd_iters + 1):
        ctes.append(f"""la{i} AS MATERIALIZED (
        SELECT * FROM (
            SELECT v.vec_id, v.emb, cent.cell,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                       ORDER BY {cos_assign} DESC, cent.cell) AS r
            FROM (SELECT vec_id, embedding AS emb FROM {table}) v
            CROSS JOIN cent{i - 1} cent) WHERE r = 1)""")
        ctes.append(f"""cent{i} AS MATERIALIZED (
        SELECT cell, list(mm ORDER BY pos) AS cv FROM (
            SELECT cell, pos,
                   CAST(SUM(CAST(CAST(val AS DOUBLE) AS DECIMAL(38,12)))
                        AS DOUBLE) / COUNT(val) AS mm
            FROM (SELECT cell, unnest(emb) AS val,
                         generate_subscripts(emb, 1) AS pos FROM la{i})
            GROUP BY cell, pos)
        GROUP BY cell)""")
    final = f"cent{lloyd_iters}"
    ctes.append(f"""corpus_assign AS MATERIALIZED (
        SELECT v.vec_id AS neighbor_id, v.emb AS cv, cent.cell,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                   ORDER BY {cos_assign} DESC, cent.cell) AS r
        FROM (SELECT vec_id, embedding AS emb FROM {table}) v
        CROSS JOIN {final} cent)""")
    ctes.append(
        "ix AS MATERIALIZED (SELECT neighbor_id, cv, cell "
        "FROM corpus_assign WHERE r = 1)"
    )
    ctes.append(f"""resid AS MATERIALIZED (
        SELECT ix.neighbor_id, ix.cv, ix.cell, cent.cv AS ccv,
               [CAST(ix.cv[i] AS DOUBLE) - cent.cv[i]
                for i in range(1, {dim + 1})] AS rv
        FROM ix JOIN {final} cent USING (cell))""")
    ctes.append(f"""rsub AS MATERIALIZED (
        SELECT neighbor_id AS vid, j,
               list_slice(rv, j * {dsub} + 1, j * {dsub} + {dsub}) AS sv
        FROM (SELECT neighbor_id, rv, unnest(range(0, {m})) AS j FROM resid))""")
    ctes.append(f"""pcent0 AS MATERIALIZED (
        SELECT j, vid AS code, sv AS pcv FROM rsub WHERE vid < {pq_k})""")
    for i in range(1, pq_iters + 1):
        ctes.append(f"""pla{i} AS MATERIALIZED (
        SELECT * FROM (
            SELECT s.vid, s.j, s.sv, cent.code,
                   ROW_NUMBER() OVER (PARTITION BY s.vid, s.j
                       ORDER BY {l2} ASC, cent.code) AS r
            FROM rsub s JOIN pcent{i - 1} cent ON s.j = cent.j) WHERE r = 1)""")
        ctes.append(f"""pcent{i} AS MATERIALIZED (
        SELECT j, code, list(mm ORDER BY pos) AS pcv FROM (
            SELECT j, code, pos,
                   CAST(SUM(CAST(CAST(val AS DOUBLE) AS DECIMAL(38,12)))
                        AS DOUBLE) / COUNT(val) AS mm
            FROM (SELECT j, code, unnest(sv) AS val,
                         generate_subscripts(sv, 1) AS pos FROM pla{i})
            GROUP BY j, code, pos)
        GROUP BY j, code)""")
    pfinal = f"pcent{pq_iters}"
    ctes.append(f"""pcodes AS MATERIALIZED (
        SELECT * FROM (
            SELECT s.vid, s.j, cent.code,
                   ROW_NUMBER() OVER (PARTITION BY s.vid, s.j
                       ORDER BY {l2} ASC, cent.code) AS r
            FROM rsub s JOIN {pfinal} cent ON s.j = cent.j) WHERE r = 1)""")
    ctes.append(f"""rrec AS MATERIALIZED (
        SELECT vid, flatten(list(pcv ORDER BY j)) AS rr
        FROM pcodes JOIN {pfinal} cent USING (j, code)
        GROUP BY vid)""")
    ctes.append(f"""xhat AS MATERIALIZED (
        SELECT r.neighbor_id, r.cell, r.cv,
               [r.ccv[i] + rrec.rr[i] for i in range(1, {dim + 1})] AS xh
        FROM resid r JOIN rrec ON r.neighbor_id = rrec.vid)""")
    ctes.append(f"""query_assign AS MATERIALIZED (
        SELECT v.vec_id AS query_id, v.emb AS qv, cent.cell,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                   ORDER BY {cos_assign} DESC, cent.cell) AS r
        FROM (SELECT vec_id, embedding AS emb FROM {table}
              WHERE vec_id < {n_queries}) v CROSS JOIN {final} cent)""")
    ctes.append(
        f"p AS MATERIALIZED (SELECT query_id, qv, cell "
        f"FROM query_assign WHERE r <= {n_probe})"
    )
    cos_a = _cos_sql("p.qv", "x.xh")
    cos_x = _cos_sql("p.qv", "x.cv")
    ctes.append(f"""scored AS MATERIALIZED (
        SELECT DISTINCT p.query_id, x.neighbor_id,
               ROUND({cos_a}, 6) AS cos_ivfpq,
               ROUND({cos_x}, 6) AS cos_exact,
               ROUND(ABS({cos_a} - {cos_x}), 6) AS abs_err
        FROM p JOIN xhat x USING (cell)
        WHERE p.query_id <> x.neighbor_id)""")
    ctes.append("""ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cos_ivfpq DESC, neighbor_id) AS rank
        FROM scored)""")
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT query_id, neighbor_id, cos_ivfpq, cos_exact, abs_err, rank
    FROM ranked WHERE rank <= {k_neighbors}
    """


# --- Hard-negative triplet mining --------------------------------------------
# Contrastive-training data prep (the metric-learning classic): for each
# anchor, the most-similar SAME-label vector (the positive) and the
# most-similar DIFFERENT-label vector (the hard negative) — pairs whose
# margin is small or negative are exactly the triplets a contrastive loss
# learns most from. Anchors are a bounded broadcast set (the repo's ANN
# query-set contract); at 100 TB the corpus side streams, anchors batch.


def hard_negative_pairs(
    corpus: DataFrame,
    anchors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """(anchor_id, label, pos_id, pos_cos, neg_id, neg_cos, margin) per
    anchor: top-1 same-label and top-1 different-label cosine neighbor
    (ties: cos DESC, id ASC) and the positive-negative margin. Anchors
    with no same-label or no cross-label counterpart drop (inner joins).

    Plan: broadcast anchors × ONE corpus scan; both branches resolve in a
    single per-anchor aggregate — max over struct(cos, -cand_id) is the
    deterministic (cos DESC, id ASC) argmax without a window, so the
    corpus is never scanned twice and nothing but the per-anchor partial
    maxima shuffles."""
    q = F.broadcast(
        anchors.select(
            F.col(id_col).alias("anchor_id"),
            F.col(label_col).alias("label"),
            F.col(vec_col).alias("qv"),
        )
    )
    c = corpus.select(
        F.col(id_col).alias("cand_id"),
        F.col(label_col).alias("_cl"),
        F.col(vec_col).alias("cv"),
    )
    scored = (
        q.crossJoin(c)
        .filter(F.col("anchor_id") != F.col("cand_id"))
        .select(
            "anchor_id",
            "label",
            "cand_id",
            (F.col("_cl") == F.col("label")).alias("_same"),
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("_cos"),
        )
    )
    pick = F.struct(F.col("_cos"), (-F.col("cand_id")).alias("_nid"))
    agg = scored.groupBy("anchor_id", "label").agg(
        F.max(F.when(F.col("_same"), pick)).alias("_p"),
        F.max(F.when(~F.col("_same"), pick)).alias("_n"),
    )
    return (
        agg.filter(F.col("_p").isNotNull() & F.col("_n").isNotNull())
        .select(
            "anchor_id",
            "label",
            (-F.col("_p._nid")).alias("pos_id"),
            F.col("_p._cos").alias("pos_cos"),
            (-F.col("_n._nid")).alias("neg_id"),
            F.col("_n._cos").alias("neg_cos"),
            F.round(F.col("_p._cos") - F.col("_n._cos"), 6).alias("margin"),
        )
    )


def hard_negative_oracle_sql(
    n_anchors: int = 10, table: str = "embeddings"
) -> str:
    """DuckDB twin of hard_negative_pairs (same rounded cosine, same
    tie order, same inner-join drop semantics)."""
    cos = _cos_sql("q.qv", "c.cv")
    return f"""
    WITH q AS (SELECT vec_id AS anchor_id, label, embedding AS qv
               FROM {table} WHERE vec_id < {n_anchors}),
         c AS (SELECT vec_id AS cand_id, label AS cl, embedding AS cv
               FROM {table}),
         scored AS (
            SELECT q.anchor_id, q.label, c.cand_id,
                   (c.cl = q.label) AS same,
                   ROUND({cos}, 6) AS cos_sim
            FROM q CROSS JOIN c WHERE q.anchor_id <> c.cand_id),
         ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id, same
                       ORDER BY cos_sim DESC, cand_id) AS r
            FROM scored),
         pos AS (SELECT anchor_id, label, cand_id AS pos_id,
                        cos_sim AS pos_cos
                 FROM ranked WHERE r = 1 AND same),
         neg AS (SELECT anchor_id, cand_id AS neg_id, cos_sim AS neg_cos
                 FROM ranked WHERE r = 1 AND NOT same)
    SELECT pos.anchor_id, label, pos_id, pos_cos, neg_id, neg_cos,
           ROUND(pos_cos - neg_cos, 6) AS margin
    FROM pos JOIN neg USING (anchor_id)
    """


# --- ANN recall evaluation ----------------------------------------------------
# The eval every approximate index needs before production: per-query
# recall@k of the LSH path against the brute-force ground truth, computed
# in ONE plan (both sides already exist as operators; this composes and
# grades them). Integer hit counts, one rounded division — hash-gates.


def _grade_recall(truth: DataFrame, approx: DataFrame) -> DataFrame:
    """(query_id, n_true, n_hits, recall): per query, how many of the
    brute-force top-k the approximate top-k recovered. Both inputs carry
    (query_id, neighbor_id); n_true < k happens when the corpus is
    small; recall divides by the true count."""
    hits = truth.join(
        approx.select("query_id", "neighbor_id").withColumn("_hit", F.lit(1)),
        ["query_id", "neighbor_id"],
        "left",
    )
    return hits.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_true"),
        F.coalesce(F.sum("_hit"), F.lit(0)).alias("n_hits"),
        F.round(
            F.coalesce(F.sum("_hit"), F.lit(0)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("recall"),
    )


def ann_recall_report(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of the LSH path against brute-force ground truth (see
    :func:`_grade_recall` for the output contract)."""
    truth = cosine_topk(corpus, queries, k=k, id_col=id_col, vec_col=vec_col)
    approx = cosine_topk_lsh(
        corpus, queries, k=k, n_bits=n_bits, id_col=id_col, vec_col=vec_col
    )
    return _grade_recall(truth, approx)


def ivf_recall_report(
    spark,
    path: str,
    centroids: list[tuple[int, list[float]]],
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bounds: tuple[list[float], list[float]] | None = None,
    codebooks: list[tuple[int, int, list[float]]] | None = None,
) -> DataFrame:
    """Recall@k of a PERSISTED IVF index — the lifecycle-aware twin of
    :func:`ann_recall_report`, which measures the LSH path only (the
    round-12 verdict's open quality question): the approximate side is
    :func:`query_ivf_index` over the index AS IT IS ON DISK (build +
    upsert waves, pre- or post-compaction, under whatever centroid
    staleness it has accrued), the truth side is brute force over
    ``corpus`` — the CURRENT live vector set the index is supposed to
    represent. Run it after upsert waves to measure what centroid
    staleness actually costs at fixed n_probe; the drift trigger
    (:func:`should_rebuild_centroids`) decides when that cost warrants
    a retrain.

    CODEC-AWARE: the approximate side passes a quantized tree's frozen
    artifact to :func:`query_ivf_index`, so the recall reading INCLUDES
    the quantization error — the number an operator actually serves at,
    truth side unchanged (brute force over the live float corpus)."""
    truth = cosine_topk(corpus, queries, k=k, id_col=id_col, vec_col=vec_col)
    approx = query_ivf_index(
        spark, path, centroids, queries, k=k, n_probe=n_probe, id_col=id_col,
        vec_col=vec_col, bounds=bounds, codebooks=codebooks,
    )
    return _grade_recall(truth, approx)


def ann_recall_oracle_sql(
    k: int = 5, n_queries: int = 5, n_bits: int = 8, table: str = "embeddings"
) -> str:
    """DuckDB twin of ann_recall_report: both existing oracle chains as
    derived tables, joined and graded."""
    brute = cosine_topk_oracle_sql(k=k, n_queries=n_queries, table=table)
    lsh = cosine_topk_lsh_oracle_sql(
        k=k, n_queries=n_queries, n_bits=n_bits, table=table
    )
    return f"""
    SELECT t.query_id,
           CAST(COUNT(*) AS BIGINT) AS n_true,
           CAST(COALESCE(SUM(CASE WHEN l.neighbor_id IS NOT NULL
                                  THEN 1 END), 0) AS BIGINT) AS n_hits,
           ROUND(COALESCE(SUM(CASE WHEN l.neighbor_id IS NOT NULL
                                   THEN 1 END), 0)::DOUBLE
                 / COUNT(*), 6) AS recall
    FROM ({brute}) t
    LEFT JOIN ({lsh}) l
      ON t.query_id = l.query_id AND t.neighbor_id = l.neighbor_id
    GROUP BY t.query_id
    """
