"""Join operators (SURVEY.md §2.3, §2.7).

Catalyst picks broadcast vs sort-merge; these helpers add the hints the
planner can't infer (dimension side of star joins is broadcast) and express
the reference's implicit joins (upsert anti-join, union-of-sources,
as-of alignment) explicitly.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def left_join_fill(
    fact: DataFrame,
    dim: DataFrame,
    on: str | Sequence[str],
    fill: dict | None = None,
    broadcast_dim: bool = True,
) -> DataFrame:
    """Left join + null-fill for unmatched rows (reference
    gold_war_etl_dag.py:148-150 gold×sentiment merge + fillna(0)).

    ``broadcast_dim`` hints the dim side — at 100 TB the fact side shuffles
    nothing for a broadcast join.
    """
    right = F.broadcast(dim) if broadcast_dim else dim
    out = fact.join(right, on, "left")
    return out.na.fill(fill) if fill else out


def anti_join(df: DataFrame, other: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """Rows of df whose key is NOT in other (reference upsert
    ``existing[~existing.date.isin(new_dates)]``, lecture3/15:186-188)."""
    return df.join(other, on, "left_anti")


def union_sources(dfs: Sequence[DataFrame]) -> DataFrame:
    """Union-all of heterogeneous sources by column name, padding missing
    columns with null (reference multi-source extend,
    tutorial2_data_ingestion.py:222-259)."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


def upsert(existing: DataFrame, new: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Delete-matching-then-insert (reference lecture3/13:80-83): existing
    rows whose key collides with new are replaced. anti-join + union —
    one shuffle each side on the key at scale; for table-backed storage use
    operators.upsert.write_partition_upsert (dynamic partition overwrite).
    """
    keep = existing.join(new.select(*keys).distinct(), list(keys), "left_anti")
    return keep.unionByName(new)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on_time: str,
    by: Sequence[str] = (),
    right_prefix: str = "r_",
    tolerance: str | None = None,
) -> DataFrame:
    """As-of join: for each left row, the most recent right row with
    ``right.ts <= left.ts`` (reference only aligns by exact date,
    gold_war:143-148 — this is the general time-series operator it implies;
    SURVEY.md §2.3 J5).

    Spark-first strategy: union both sides tagged, one window pass
    partitioned by ``by`` ordered by time — a single shuffle, no O(n·m)
    range-condition join blowup, skew-safe under AQE. ``tolerance`` (e.g.
    ``INTERVAL 1 HOUR``) invalidates matches older than left.ts - tolerance.
    """
    by = list(by)
    rcols = [c for c in right.columns if c != on_time and c not in by]
    # Aligned schemas: left keeps its payload; right contributes its payload
    # renamed with prefix; each side nulls the other's columns.
    lpay = [c for c in left.columns if c not in by and c != on_time]
    l_side = left.select(
        *by,
        F.col(on_time).alias("_t"),
        F.lit(1).alias("_is_left"),
        *[F.col(c) for c in lpay],
        *[F.lit(None).cast(right.schema[c].dataType).alias(right_prefix + c) for c in rcols],
        F.lit(None).cast(right.schema[on_time].dataType).alias("_rt"),
    )
    r_side = right.select(
        *by,
        F.col(on_time).alias("_t"),
        F.lit(0).alias("_is_left"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lpay],
        *[F.col(c).alias(right_prefix + c) for c in rcols],
        F.col(on_time).alias("_rt"),
    )
    unioned = l_side.unionByName(r_side)
    # Right rows sort before left rows at the same timestamp so an exact-ts
    # right row is visible to the left row (<= semantics).
    w = (
        Window.partitionBy(*by)
        .orderBy(F.col("_t").asc(), F.col("_is_left").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned.select(
        "*",
        *[F.last(right_prefix + c, ignorenulls=True).over(w).alias("_f_" + c) for c in rcols],
        F.last("_rt", ignorenulls=True).over(w).alias("_f_rt"),
    )
    out = filled.filter(F.col("_is_left") == 1)
    if tolerance is not None:
        in_tol = F.col("_f_rt") >= F.col("_t") - F.expr(tolerance)
        proj = [
            F.when(in_tol, F.col("_f_" + c)).alias(right_prefix + c) for c in rcols
        ]
    else:
        proj = [F.col("_f_" + c).alias(right_prefix + c) for c in rcols]
    return out.select(*by, F.col("_t").alias(on_time), *lpay, *proj)


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    str_col: str,
    block_col: str | None = None,
    d: int = 2,
) -> DataFrame:
    """All pairs (id_a < id_b, same block) with levenshtein ≤ ``d`` and
    unequal strings — the entity-resolution fuzzy self-join, via
    segment-index candidate generation (the PassJoin pigeonhole, Li/Deng/
    Feng VLDB'11): partition each string into d+1 contiguous segments; if
    ed(r, s) ≤ d then r must contain one of s's segments VERBATIM at a
    start shifted by at most d. Candidates therefore come from an
    EQUI-join on (block, xxhash64(|s|, segment_idx, segment_text)) —
    O(n·const) index/probe rows instead of the O(block²) cross product —
    and only candidate pairs pay the thresholded levenshtein verify. At
    100 TB the shuffle carries 8-byte segment-key hashes plus ids, never
    the pair matrix or the substrings (a hash collision can only ADD a
    candidate, which the exact verify filters, so completeness and the
    final pair set are hash-independent).

    Strings shorter than 2d+1 chars can't be segment-indexed (a segment
    would be empty); those route through a tiny brute-force path — the
    two paths split on min(len) ≥ d+1 so the union is exact and disjoint.
    """
    k = d + 1
    c = str_col
    base = df.select(
        F.col(block_col).alias("_blk") if block_col else F.lit(1).alias("_blk"),
        F.col(id_col).alias("_id"),
        F.col(c).alias("_s"),
        F.length(c).alias("_len"),
    )
    # Pin the segment/probe explode's parallelism (the byte-blind-AQE rule,
    # ARCHITECTURE §12): the explode below amplifies each input row into
    # ~k + k(d+1)(d+1) index/probe rows plus a substring+hash per row, so a
    # narrow input (one small parquet split, or an AQE-coalesced exchange)
    # runs the whole amplification serially — measured here as two
    # single-task BroadcastExchange builds of 1.1 s and 2.7 s CPU inside a
    # 5.5 s query at sf0.1. One round-robin exchange of the (id, string)
    # base rows spreads it; every consumer (index, probe, verify-side name
    # lookups, short-string brute path) reuses the same exchange, which
    # also collapses the plan's 3 identical scans to 1 + ReusedExchange.
    base = base.repartition(df.sparkSession.sparkContext.defaultParallelism)
    # 0-based even-partition scheme for a length-L string: segment i has
    # length l_i = (L div k) + [i >= k - L%k], start p_i = i*(L div k) +
    # max(0, i - (k - L%k)).
    seg_len = f"((L div {k}) + if(i >= {k} - (L % {k}), 1, 0))"
    seg_pos = f"(i * (L div {k}) + greatest(0, i - ({k} - (L % {k}))))"
    idx = base.filter(F.col("_len") >= k).select(
        "_blk",
        F.col("_id").alias("_iid"),
        F.col("_len").alias("idx_len"),
        F.explode(
            F.expr(
                f"""transform(sequence(0, {k - 1}), i ->
                      named_struct(
                        'seg_idx', i,
                        'seg', substring(_s,
                                 1 + {seg_pos.replace('L', '_len')},
                                 {seg_len.replace('L', '_len')})))"""
            )
        ).alias("_seg"),
    ).select("_blk", "_iid", "idx_len", "_seg.seg_idx", "_seg.seg")
    # Probe: index the SHORTER side only (L ≤ probe len; equal lengths
    # probe both ways and dedupe), with the tight PassJoin shift window:
    # a segment shifted by t needs |t| edits before it and |Δ − t| after
    # (Δ = probe len − L), so |t| + |Δ − t| ≤ d bounds the window to
    # ~(d − Δ)/2 around [p_i, p_i + Δ] — ≤ d+1 starts per (segment, L)
    # instead of 2d+1. Payload is the id only; strings rejoin at verify.
    # sequence() is guarded against lo > hi by extending to
    # greatest(lo, hi) and filtering invalid (overlong) extractions.
    half = f"(({d} - (_len - L)) div 2)"
    lo = f"greatest(0, {seg_pos} - {half})"
    hi = f"least(_len - {seg_len}, {seg_pos} + (_len - L) + {half})"
    probe = base.filter(F.col("_len") >= k).select(
        "_blk",
        F.col("_id").alias("_pid"),
        F.col("_len").alias("_plen"),
        F.explode(
            F.expr(
                f"""flatten(transform(
                      sequence(greatest({k}, _len - {d}), _len), L ->
                      flatten(transform(sequence(0, {k - 1}), i ->
                        transform(
                          sequence({lo}, greatest({lo}, {hi})), s ->
                          named_struct(
                            'idx_len', L,
                            'seg_idx', i,
                            'seg', substring(_s, s + 1, {seg_len}),
                            'valid', s + {seg_len} <= _len
                                     and s <= {hi}))))))"""
            )
        ).alias("_pr"),
    ).filter(F.col("_pr.valid")).select(
        "_blk", "_pid",
        F.col("_pr.idx_len").alias("idx_len"),
        F.col("_pr.seg_idx").alias("seg_idx"),
        F.col("_pr.seg").alias("seg"),
    )
    # The candidate equi-join runs on (block, xxhash64(len, seg_idx, seg))
    # instead of the raw composite key: the 8-byte hash replaces the
    # substring + two ints in every probe/index row, so the sort-merge
    # compares one long instead of a string composite (measured at
    # sf1.0*: wall 9.1 -> 6.5s, 0.1->1.0 decade exponent 0.20 -> 0.13;
    # compressed shuffle bytes are unchanged — random hashes don't
    # compress, the substrings did). EXACT by construction: equal triples
    # hash equal (no true candidate is ever lost), and a within-block
    # hash collision only ADDS a candidate pair, which the thresholded-
    # levenshtein verify then keeps iff it satisfies the output predicate
    # anyway — correctness never depends on the hash. The block stays a
    # separate key column so collisions cannot cross blocks.
    seg_key = F.xxhash64("idx_len", "seg_idx", "seg").alias("_h")
    pair_ids = (
        probe.select("_blk", "_pid", seg_key)
        .hint("shuffle_hash")
        .join(idx.select("_blk", "_iid", seg_key), ["_blk", "_h"])
        .filter(F.col("_pid") != F.col("_iid"))
        .select(
            F.least("_pid", "_iid").alias("id_a"),
            F.greatest("_pid", "_iid").alias("id_b"),
        )
        .distinct()
    )
    names = base.select(F.col("_id"), F.col("_s"))
    cand = (
        pair_ids.join(names.withColumnRenamed("_id", "id_a"), "id_a")
        .withColumnRenamed("_s", "s_a")
        .join(
            names.withColumnRenamed("_id", "id_b").withColumnRenamed(
                "_s", "s_b"
            ),
            "id_b",
        )
        .select("id_a", "s_a", "id_b", "s_b")
    )
    # Brute path for the un-indexable short strings: every partner of a
    # string shorter than k sits within d of it, i.e. below k + d.
    short = base.filter(F.col("_len") < k + d)
    brute = (
        short.select("_blk", F.col("_id").alias("id_a"),
                     F.col("_s").alias("s_a"), F.col("_len").alias("_la"))
        .join(
            short.select("_blk", F.col("_id").alias("id_b"),
                         F.col("_s").alias("s_b"), F.col("_len").alias("_lb")),
            "_blk",
        )
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.least("_la", "_lb") < k)
            & (F.abs(F.col("_la") - F.col("_lb")) <= d)
        )
        .select("id_a", "s_a", "id_b", "s_b")
    )
    return (
        cand.unionByName(brute)
        .withColumn("edit_dist", F.levenshtein("s_a", "s_b", d))
        .filter(
            (F.col("edit_dist") >= 0)
            & (F.col("edit_dist") <= d)
            & (F.col("s_a") != F.col("s_b"))
        )
        .select("id_a", "id_b", "edit_dist")
    )


def _interval_lane_points(
    points: DataFrame,
    any_long: DataFrame,
    t_col: str,
    bucket_us: int,
    coarse_us: int,
) -> DataFrame:
    """Point side of the two-lane interval join: each point explodes to
    its fine-lane (lane=false, bucket) key, plus its coarse-lane key
    ONLY when the broadcast 1-row ``any_long`` flag is true — so a
    workload with no long interval shuffles 1× point volume at runtime
    while the plan stays lazy. Factored out so the runtime gating is
    unit-testable (row count = n_points × lanes)."""
    return (
        points.crossJoin(any_long)
        .select(
            "*",
            F.explode(
                F.expr(
                    f"if(_any_long,"
                    f" array("
                    f"  named_struct('_lg', false,"
                    f"   '_bk', {t_col} div {bucket_us}),"
                    f"  named_struct('_lg', true,"
                    f"   '_bk', {t_col} div {coarse_us})),"
                    f" array("
                    f"  named_struct('_lg', false,"
                    f"   '_bk', {t_col} div {bucket_us})))"
                )
            ).alias("_lane"),
        )
        .select("*", "_lane._lg", "_lane._bk")
        .drop("_lane", "_any_long")
    )


def interval_point_join(
    points: DataFrame,
    intervals: DataFrame,
    t_col: str = "t_us",
    start_col: str = "start_us",
    end_col: str = "end_us",
    bucket_us: int = 3_600_000_000,
    long_factor: int | None = 64,
) -> DataFrame:
    """Inner join of point rows to every interval containing them
    (``start ≤ t ≤ end``, integer microseconds) — the RANGE JOIN Spark's
    optimizer would otherwise execute as a nested-loop cross product.

    Distributed shape: time buckets. Each interval explodes to the
    buckets it covers (span/bucket rows); each point keys to its single
    bucket; containment candidates come from the bucket EQUI-join and
    the exact predicate filters them. A point lives in exactly one
    bucket per lane, so no pair appears twice and no post-dedup is
    needed. Pick ``bucket_us`` near the typical interval span: the
    explode factor is span/bucket, the candidate fan-in is
    points-per-bucket × intervals-overlapping-bucket. Column names must
    not collide between the two sides (select/rename first).

    Long-interval guard: a pathological interval spanning K fine buckets
    would explode to K rows (one year-long session at hour buckets =
    8,760). Intervals covering more than ``long_factor`` fine buckets
    therefore route through a SECOND, coarser lane (bucket width
    ``bucket_us * long_factor``): their explode factor drops by
    ``long_factor``×. Each interval lives in EXACTLY ONE lane (the lane
    flag is part of the join key) and each point keys into exactly one
    bucket per lane, so every (point, interval) pair still arises from
    exactly one equi-join row. Explode factor is thus
    ≤ max(long_factor + 1, span/(bucket·factor)) — the year-long
    hour-bucket case emits 137 coarse rows, not 8,760; one more lane
    level bounds any span at any scale. ONE join, ONE scan per side: the
    point side explodes to exactly two (lane, bucket) keys instead of
    joining twice (a lane-per-join formulation re-executed both upstream
    plans — the double-consumed-DataFrame pitfall).

    The coarse lane doubles point-side shuffle volume, which is wasted
    when NO interval is long (the common case). ``long_factor=None``
    opts out explicitly (single fine lane, no point doubling);
    otherwise the lane decision is made INSIDE the plan: a 1-row
    broadcast aggregate over the interval side (column-pruned to
    start/end) computes "any interval long?", and the point side's
    explode emits two (lane, bucket) keys only when that broadcast flag
    is true — so the function stays LAZY (no job at plan-build time; a
    caller composing plans without executing pays nothing) and a
    workload with no long interval still pays 1× point shuffle at run
    time. The flag subtree re-derives the interval plan once more than
    the join build does, pruned to the two range columns; a caller
    whose interval subtree is expensive should localCheckpoint it
    before calling (the lane flag and the bucket explode must also
    observe the SAME interval rows, so a nondeterministically-derived
    interval table needs that checkpoint for correctness, exactly as it
    would anywhere else). An empty interval table yields a NULL flag,
    which gates to the single fine lane.

    Inverted intervals (start > end) can match no point under the
    containment predicate, so they are dropped up front — without the
    prefilter ``sequence(start_bucket, end_bucket)`` would count DOWN and
    explode a hugely-inverted row into |span| bogus bucket rows before
    the filter discards every candidate."""
    intervals = intervals.filter(F.col(start_col) <= F.col(end_col))
    if long_factor is None:
        pts = points.withColumn("_bk", F.expr(f"{t_col} div {bucket_us}"))
        ivs = intervals.select(
            "*",
            F.explode(
                F.expr(
                    f"sequence({start_col} div {bucket_us},"
                    f" {end_col} div {bucket_us})"
                )
            ).alias("_bk"),
        )
        join_keys = ["_bk"]
    else:
        coarse_us = bucket_us * long_factor
        is_long = (
            f"({end_col} div {bucket_us} - {start_col} div {bucket_us} + 1)"
            f" > {long_factor}"
        )
        any_long = F.broadcast(
            intervals.select(start_col, end_col).agg(
                F.coalesce(F.max(F.expr(is_long)), F.lit(False)).alias(
                    "_any_long"
                )
            )
        )
        # the coarse key is emitted ONLY when some interval is long
        # (broadcast scalar, same for every row) — otherwise each point
        # carries exactly one fine-lane key and the join shuffles 1×
        # point volume, same as the single-lane plan. The 1-row flag
        # attaches via a broadcast crossJoin (a constant-key equi-join
        # would constant-fold right back into the same nested loop);
        # plan-hygiene checks must allow exactly this one benign 1-row
        # BroadcastNestedLoopJoin and keep forbidding it for the range
        # join itself
        pts = _interval_lane_points(
            points, any_long, t_col, bucket_us, coarse_us
        )
        ivs = intervals.select(
            "*",
            F.expr(is_long).alias("_lg"),
            F.explode(
                F.expr(
                    f"sequence("
                    f" {start_col} div IF({is_long}, {coarse_us}, {bucket_us}),"
                    f" {end_col} div IF({is_long}, {coarse_us}, {bucket_us}))"
                )
            ).alias("_bk"),
        )
        join_keys = ["_lg", "_bk"]
    return (
        pts.join(ivs, join_keys)
        .filter(
            (F.col(t_col) >= F.col(start_col))
            & (F.col(t_col) <= F.col(end_col))
        )
        .drop(*join_keys)
    )
