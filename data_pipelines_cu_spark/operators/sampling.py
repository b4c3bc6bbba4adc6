"""Deterministic sampling / dataset splitting (north-star training-data ops).

Training pipelines need splits that are (a) stable under repartitioning,
retries, and engine changes — so NEVER ``rand()`` or ``TABLESAMPLE`` — and
(b) keyed on a business id so all rows of an entity land in one split.
The portable construction: bucket = md5-derived 32-bit hash of the key,
mod 100; split boundaries are percentile cutoffs over buckets. The same
arithmetic runs in any engine (the DuckDB oracle runs it verbatim).

Reference grounding: the course's only split is sklearn
``train_test_split(random_state=42)`` (Solutions/gold_war_etl_dag.py:171-172)
— process-local RNG, unreproducible across engines; this is its
distributed, content-addressed replacement.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from .materialize import lineage_cut


def hash_bucket(key: Column, n_buckets: int = 100, salt: str = "") -> Column:
    """Deterministic bucket in [0, n_buckets): first 32 bits of
    md5(salt || key) mod n_buckets. Engine-portable and partition-
    independent."""
    h = F.md5(F.concat(F.lit(salt), key.cast("string")))
    return (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % n_buckets
    ).alias("bucket")


def with_split(
    df: DataFrame,
    key_col: str,
    train_pct: int = 80,
    val_pct: int = 10,
    salt: str = "",
    out: str = "split",
) -> DataFrame:
    """Assign train/val/test by hash bucket of the key column. All rows
    sharing a key get the same split (no leakage across splits); adding
    data never reassigns existing keys."""
    b = hash_bucket(F.col(key_col), 100, salt)
    return df.withColumn(
        out,
        F.when(b < train_pct, F.lit("train"))
        .when(b < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def hash_bucket_sql(key_expr: str, n_buckets: int = 100, salt: str = "") -> str:
    """DuckDB twin of hash_bucket."""
    gx = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5('{salt}' || CAST({key_expr} AS VARCHAR)), {j + 1}, 1)) - 1) * {16 ** (7 - j)}"
        for j in range(8)
    )
    return f"(({gx})::BIGINT % {n_buckets})"


def split_sql(
    key_expr: str, train_pct: int = 80, val_pct: int = 10, salt: str = ""
) -> str:
    b = hash_bucket_sql(key_expr, 100, salt)
    return (
        f"(CASE WHEN {b} < {train_pct} THEN 'train' "
        f"WHEN {b} < {train_pct + val_pct} THEN 'val' ELSE 'test' END)"
    )


def quota_sample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    n_per_group: int = 20,
    salt: str = "",
    rank_col: str = "rk",
) -> DataFrame:
    """Deterministic per-group quota sample: rank rows within each group by
    md5(salt || key) — a content-addressed shuffle order, stable under
    repartitioning and engine changes — and keep the first ``n_per_group``.
    The language-rebalancing step of corpus curation (cap the dominant
    language, keep every row of the rare ones).

    One shuffle on the group key. At 100 TB a whole-language total order
    would straggle; the production refinement is a broadcast per-group
    count → keep hash < (oversampled n/count) cutoff → rank only the
    pre-filtered sliver. The cutoff pass is omitted here because the exact
    semantics ARE the ranked order and the driver gate must match it
    bit-for-bit; the prefilter preserves the result whenever >= n rows
    survive it (near-certain at any realistic n)."""
    h = F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string")))
    w = Window.partitionBy(group_col).orderBy(h, F.col(key_col))
    return df.withColumn(rank_col, F.row_number().over(w)).filter(
        F.col(rank_col) <= n_per_group
    )


def mixture_sample(
    df: DataFrame,
    group_col: str,
    weights: dict[str, int],
    key_col: str,
    salt: str = "",
    rank_col: str = "rk",
) -> DataFrame:
    """Resample to a target mixture: keep ``w_g * m`` rows of each group,
    where ``weights`` are integer mixture parts (e.g. {"web": 3, "code": 1}
    = 3:1) and ``m = min_g floor(count_g / w_g)`` is the largest multiplier
    every group can serve — the biggest corpus with EXACTLY the target
    proportions. Rows are chosen per group by md5 hash order (deterministic,
    partition-independent); groups outside ``weights`` are dropped.

    The data-mixture step of pre-training curation (rebalance web/code/
    reference shares before packing). All quota arithmetic is integer —
    no double ratios that could round differently across engines. Plan
    shape: one count aggregate (tiny), its min broadcast back as a scalar,
    one rank shuffle on the group key; the corpus never moves twice.
    """
    spark = df.sparkSession
    weights_df = F.broadcast(
        spark.createDataFrame(
            [(g, int(w)) for g, w in sorted(weights.items())],
            f"{group_col} string, _w long",
        )
    )
    counts = (
        df.join(weights_df, group_col)
        .groupBy(group_col, "_w")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    m = F.broadcast(
        counts.select(
            F.min(F.floor(F.col("_cnt") / F.col("_w"))).alias("_m")
        )
    )
    quotas = F.broadcast(
        counts.crossJoin(m).select(
            group_col, (F.col("_w") * F.col("_m")).alias("_quota")
        )
    )
    ranked = quota_sample(
        df.join(weights_df.select(group_col), group_col),
        group_col,
        key_col,
        n_per_group=2**62,
        salt=salt,
        rank_col=rank_col,
    )
    return ranked.join(quotas, group_col).filter(F.col(rank_col) <= F.col("_quota")).drop(
        "_quota"
    )


def mixture_sample_sql(
    weights: dict[str, int],
    table: str = "documents",
    group_expr: str = "source",
    key_expr: str = "doc_id",
    salt: str = "",
) -> str:
    """DuckDB twin of mixture_sample (same integer quota arithmetic)."""
    wvals = ", ".join(f"('{g}', {int(w)})" for g, w in sorted(weights.items()))
    return f"""
    WITH w(grp, wt) AS (VALUES {wvals}),
    counts AS (
        SELECT {group_expr} AS grp, wt, COUNT(*) AS cnt
        FROM {table} JOIN w ON w.grp = {group_expr}
        GROUP BY {group_expr}, wt
    ),
    m AS (SELECT MIN(cnt // wt) AS m FROM counts),
    quotas AS (SELECT grp, wt * m.m AS quota FROM counts, m),
    ranked AS (
        SELECT {group_expr} AS grp, {key_expr} AS key_val,
               ROW_NUMBER() OVER (
                   PARTITION BY {group_expr}
                   ORDER BY md5('{salt}' || CAST({key_expr} AS VARCHAR)),
                            {key_expr}) AS rk
        FROM {table} JOIN w ON w.grp = {group_expr}
    )
    SELECT grp AS {group_expr}, key_val AS {key_expr}, rk
    FROM ranked JOIN quotas USING (grp)
    WHERE rk <= quota
    """


def sqrt_scaled_quota_sample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    total: int,
    salt: str = "",
    rank_col: str = "rk",
) -> DataFrame:
    """Square-root-scaled mixture sampling: group g gets quota
    floor(total * sqrt(c_g) / Σ_h sqrt(c_h)) rows — the classic
    temperature-style rebalancing (T=2) that upsamples low-resource
    groups relative to proportional sampling without the free-for-all of
    uniform. sqrt, not pow(x, 1/T): sqrt is correctly rounded in IEEE 754
    on both engines, so quotas are bit-reproducible where a pow-based
    temperature could flip a floor at the boundary.

    The denominator folds sqrt(c_g) in sorted-group order via a SEQUENTIAL
    reduce on a collected per-group array (a handful of rows by contract —
    one per group), never a parallel SUM whose addition order varies by
    partitioning. Rows are chosen per group by md5 hash order; quotas
    larger than a group keep the whole group.
    """
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_cnt"))
    denom = F.broadcast(
        counts.agg(
            F.aggregate(
                F.sort_array(F.collect_list(F.struct(group_col, "_cnt"))),
                F.lit(0.0),
                lambda acc, x: acc + F.sqrt(x["_cnt"].cast("double")),
            ).alias("_denom")
        )
    )
    quotas = F.broadcast(
        counts.crossJoin(denom).select(
            group_col,
            F.floor(
                F.lit(float(total))
                * F.sqrt(F.col("_cnt").cast("double"))
                / F.col("_denom")
            ).alias("_quota"),
        )
    )
    ranked = quota_sample(
        df, group_col, key_col, n_per_group=2**62, salt=salt, rank_col=rank_col
    )
    return (
        ranked.join(quotas, group_col)
        .filter(F.col(rank_col) <= F.col("_quota"))
        .drop("_quota")
    )


def sqrt_scaled_sample_sql(
    total: int,
    table: str = "documents",
    group_expr: str = "lang",
    key_expr: str = "doc_id",
    salt: str = "",
) -> str:
    """DuckDB twin of sqrt_scaled_quota_sample: same sorted-order
    sequential fold for the denominator (list_reduce over a group-ordered
    list — never an unordered SUM of doubles)."""
    return f"""
    WITH counts AS (
        SELECT {group_expr} AS grp, COUNT(*) AS cnt FROM {table} GROUP BY 1
    ),
    denom AS (
        SELECT list_reduce(
                   list_prepend(0.0, list(sqrt(CAST(cnt AS DOUBLE)) ORDER BY grp)),
                   (acc, x) -> acc + x) AS d
        FROM counts
    ),
    quotas AS (
        SELECT grp,
               FLOOR({float(total)} * sqrt(CAST(cnt AS DOUBLE)) / d.d) AS quota
        FROM counts, denom d
    ),
    ranked AS (
        SELECT {group_expr} AS grp, {key_expr} AS key_val,
               ROW_NUMBER() OVER (
                   PARTITION BY {group_expr}
                   ORDER BY md5('{salt}' || CAST({key_expr} AS VARCHAR)),
                            {key_expr}) AS rk
        FROM {table}
    )
    SELECT grp AS {group_expr}, key_val AS {key_expr}, rk
    FROM ranked JOIN quotas USING (grp)
    WHERE rk <= quota
    """


# --- DSIR-style importance weighting -----------------------------------------
# Data Selection via Importance Resampling (Xie et al., NeurIPS 2023) scores
# each document by how much more likely its tokens are under a target-domain
# distribution than under the raw-corpus distribution, using HASHED n-gram
# buckets so the feature space is fixed-size however large the vocabulary.
# This implementation keeps the hashed-unigram bucket model and swaps the
# log-likelihood-ratio sum for a mean likelihood RATIO: ratios are one IEEE
# division of exact integers (bit-identical on any engine), whereas ln()
# may differ in the last ulp between libm implementations — the repo's
# cross-engine bit-stability discipline.


def importance_weighted_sample(
    df: DataFrame,
    target_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple[str, ...] = ("lang",),
    n_buckets: int = 256,
    top_n: int = 100,
    salt: str = "dsir",
    rank_col: str = "rk",
) -> DataFrame:
    """Select the ``top_n`` docs whose hashed-unigram distribution looks most
    like the target domain: per-token importance ratio
    ``((cnt_target(b)+1) * (N_corpus+B)) / ((cnt_corpus(b)+1) * (N_target+B))``
    (add-one smoothing), per-doc score = mean of the token ratios.

    Determinism: bucket counts are exact integers; each ratio is ONE double
    division of exact bigint products (correctly rounded by IEEE 754, so
    engine-independent — at gate scale the products fit a bigint exactly;
    at 100 TB cast the factors to double first, the ranking is insensitive
    to last-ulp error there); ratios are then fixed to DECIMAL(18,9) so the
    per-doc mean is an order-independent decimal sum.

    Plan shape: one tokenize pass -> bucket counts (B keys — tiny shuffle,
    map-side partial), the B-row weight table BROADCASTS back onto the
    token stream (tokens never shuffle by bucket), one per-doc aggregate,
    then the guarded top-n (windows.take_ordered): TakeOrderedAndProject
    (per-partition top-n + single-point merge of n_partitions × top_n
    rows — no global sort, no corpus-sized rank window) below the
    partition-aware boundary (below topKSortFallbackThreshold AND inside
    the merge-rows budget), the blocked rank
    past it — neither the planner's global-sort fallback nor an
    unbounded single-point merge is reachable for any top_n. The rank
    column is minted by a window over the ALREADY top_n-bounded result
    on the fast path. Linear in corpus size at any scale.
    """
    from .dedup import normalized_text  # noqa: PLC0415 (cycle guard)

    toks = df.select(
        F.col(id_col),
        target_pred.alias("_is_t"),
        F.explode(F.split(normalized_text(text_col), " ")).alias("_w"),
    ).select(
        id_col, "_is_t", hash_bucket(F.col("_w"), n_buckets, salt).alias("_b")
    )
    # compress the token stream to (doc, is_target, bucket, count) ONCE
    # and checkpoint it: the raw stream fed three compiled consumers
    # (bucket counts via totals, bucket counts via weights, the per-doc
    # score join), i.e. three corpus tokenizes per execution (plan_audit
    # detector 4 — the nb_lang_predict fix shape). The compressed table
    # is at most docs x n_buckets rows of four ints; every downstream
    # stat is an exact linear derivation from it.
    dbc = (
        toks.groupBy(id_col, "_is_t", "_b")
        .agg(F.count(F.lit(1)).alias("_c"))
        .transform(lineage_cut)
    )
    counts = dbc.groupBy("_b").agg(
        F.sum("_c").alias("_cc"),
        F.sum(F.when(F.col("_is_t"), F.col("_c")).otherwise(0)).alias("_ct"),
    )
    totals = counts.agg(
        F.sum("_cc").alias("_nc"), F.sum("_ct").alias("_nt")
    )
    weights = F.broadcast(
        counts.crossJoin(F.broadcast(totals)).select(
            "_b",
            (
                (
                    (F.col("_ct") + 1) * (F.col("_nc") + n_buckets)
                ).cast("double")
                / ((F.col("_cc") + 1) * (F.col("_nt") + n_buckets)).cast(
                    "double"
                )
            )
            .cast("decimal(18,9)")
            .alias("_ratio"),
        )
    )
    scored = (
        dbc.join(weights, "_b")
        .groupBy(id_col)
        .agg(
            # sum of per-occurrence decimals == sum(count x decimal):
            # decimal arithmetic is exact, so the compressed form is
            # bit-identical to the old exploded-row aggregate
            F.sum("_c").alias("n_tokens"),
            F.round(
                F.sum(F.col("_ratio") * F.col("_c")).cast("double")
                / F.sum("_c"),
                6,
            ).alias("imp_weight"),
        )
    )
    from .windows import take_ordered  # noqa: PLC0415

    keep = df.select(id_col, *keep_cols)
    order = [F.col("imp_weight").desc(), F.col(id_col).asc()]
    # guarded top-n: TakeOrdered below topKSortFallbackThreshold, blocked
    # rank past it — never the silent full-sort fallback
    picked = take_ordered(
        scored.join(keep, id_col), order, top_n, rank_col=rank_col
    )
    return picked.select(
        id_col, *keep_cols, "n_tokens", "imp_weight", rank_col
    )


def importance_sample_sql(
    target_where: str,
    table: str = "documents",
    text_expr: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple[str, ...] = ("lang",),
    n_buckets: int = 256,
    top_n: int = 100,
    salt: str = "dsir",
) -> str:
    """DuckDB twin of importance_weighted_sample (same md5 bucket hash,
    same integer-product ratio, same decimal fixing)."""
    norm = f"regexp_replace(lower(trim({text_expr})), '\\s+', ' ', 'g')"
    bucket = hash_bucket_sql("w", n_buckets, salt)
    keep = ", ".join(keep_cols)
    return f"""
    WITH toks AS (
        SELECT {id_col}, ({target_where}) AS is_t,
               {bucket} AS b
        FROM (SELECT t.*, unnest(string_split({norm}, ' ')) AS w
              FROM {table} t)
    ),
    counts AS (
        SELECT b, COUNT(*) AS cc,
               SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct
        FROM toks GROUP BY b
    ),
    totals AS (SELECT SUM(cc) AS nc, SUM(ct) AS nt FROM counts),
    weights AS (
        SELECT b,
               CAST(CAST((ct + 1) * (nc + {n_buckets}) AS BIGINT) AS DOUBLE)
               / CAST(CAST((cc + 1) * (nt + {n_buckets}) AS BIGINT) AS DOUBLE)
                   AS ratio_d
        FROM counts, totals
    ),
    scored AS (
        SELECT {id_col},
               COUNT(*) AS n_tokens,
               ROUND(CAST(SUM(CAST(ratio_d AS DECIMAL(18,9))) AS DOUBLE)
                     / COUNT(*), 6) AS imp_weight
        FROM toks JOIN weights USING (b)
        GROUP BY {id_col}
    ),
    ranked AS (
        SELECT s.{id_col}, {keep}, n_tokens, imp_weight,
               ROW_NUMBER() OVER (ORDER BY imp_weight DESC, s.{id_col}) AS rk
        FROM scored s JOIN {table} t ON s.{id_col} = t.{id_col}
    )
    SELECT {id_col}, {keep}, n_tokens, imp_weight, rk
    FROM ranked WHERE rk <= {top_n}
    """


# --- Systematic weighted resampling ------------------------------------------


def systematic_weighted_sample(
    df: DataFrame,
    weight_col: str,
    id_col: str = "doc_id",
    n_draws: int = 100,
    block_size: int = 1024,
) -> DataFrame:
    """Weight-proportional systematic resampling (the particle-filter /
    data-mixing classic): lay all rows on a line in id order, each spanning
    ``weight`` units; place ``n_draws`` evenly spaced picks at
    ``(j + 0.5) * W/n``; a row is drawn once per pick inside its span —
    heavy rows can be drawn multiple times (``n_picks`` = training
    multiplicity), light rows are drawn with exactly weight-proportional
    probability. No RNG, no transcendental math: cumulative weights are
    exact integer sums; the only doubles are one division (step) and the
    two floor((cum - offset)/step) pick counts — identical IEEE ops on any
    engine.

    Distributed shape: a two-level prefix sum, NOT a global cumsum window —
    rows group into deterministic id-blocks (``floor(id/block_size)``);
    within-block cumsums window over the block key, and only the per-block
    totals (corpus/block_size rows) pass through the ordered prefix window.
    One more level of blocking extends the same plan to any scale; the
    corpus itself shuffles once, on the block key.

    Returns drawn rows only: (id, weight, n_picks), n_picks >= 1.
    """
    blk = F.floor(F.col(id_col) / block_size).alias("_blk")
    rows = df.select(F.col(id_col), F.col(weight_col).alias("_w"), blk)
    btot = rows.groupBy("_blk").agg(F.sum("_w").alias("_bw"))
    wblk = Window.orderBy("_blk").rowsBetween(Window.unboundedPreceding, -1)
    boff = btot.select(
        "_blk", F.coalesce(F.sum("_bw").over(wblk), F.lit(0)).alias("_boff")
    )
    total = F.broadcast(rows.agg(F.sum("_w").alias("_tot")))
    win = (
        Window.partitionBy("_blk")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (
        rows.join(F.broadcast(boff), "_blk")
        .withColumn("_hi", F.col("_boff") + F.sum("_w").over(win))
        .withColumn("_lo", F.col("_hi") - F.col("_w"))
        .crossJoin(total)
    )
    step = F.col("_tot").cast("double") / F.lit(float(n_draws))
    off = step / F.lit(2.0)
    picks = F.floor((F.col("_hi").cast("double") - off) / step) - F.floor(
        (F.col("_lo").cast("double") - off) / step
    )
    return (
        # zero total weight = no mass on the cumulative line = nothing to
        # draw; without the guard, step = 0 and ANSI mode turns the pick
        # divisions into a DIVIDE_BY_ZERO error instead of an empty result
        cum.filter(F.col("_tot") > 0)
        .select(
            id_col,
            F.col("_w").alias("weight"),
            picks.cast("long").alias("n_picks"),
        )
        .filter(F.col("n_picks") > 0)
    )


def systematic_sample_sql(
    weight_expr: str,
    table: str = "documents",
    id_col: str = "doc_id",
    n_draws: int = 100,
) -> str:
    """DuckDB twin of systematic_weighted_sample. The oracle uses a plain
    global cumsum window — cumulative weights are exact integers, so the
    two plans agree bit-for-bit regardless of summation structure; only
    the final two FLOOR expressions involve doubles, and they are written
    with the same op order as the Spark side."""
    return f"""
    WITH cum AS (
        SELECT {id_col}, {weight_expr} AS w,
               SUM({weight_expr}) OVER (ORDER BY {id_col}
                   ROWS UNBOUNDED PRECEDING) AS hi
        FROM {table}
    ),
    tot AS (SELECT SUM({weight_expr}) AS t FROM {table})
    SELECT {id_col}, w AS weight,
           CAST(FLOOR((CAST(hi AS DOUBLE)
                       - (CAST(t AS DOUBLE) / {float(n_draws)}) / 2.0)
                      / (CAST(t AS DOUBLE) / {float(n_draws)}))
                - FLOOR((CAST(hi - w AS DOUBLE)
                         - (CAST(t AS DOUBLE) / {float(n_draws)}) / 2.0)
                        / (CAST(t AS DOUBLE) / {float(n_draws)}))
                AS BIGINT) AS n_picks
    FROM cum, tot
    WHERE t > 0
      AND CAST(FLOOR((CAST(hi AS DOUBLE)
                      - (CAST(t AS DOUBLE) / {float(n_draws)}) / 2.0)
                     / (CAST(t AS DOUBLE) / {float(n_draws)}))
               - FLOOR((CAST(hi - w AS DOUBLE)
                        - (CAST(t AS DOUBLE) / {float(n_draws)}) / 2.0)
                       / (CAST(t AS DOUBLE) / {float(n_draws)}))
               AS BIGINT) > 0
    """


# --- Deterministic training shard + order assignment -------------------------


def training_shard_order(
    df: DataFrame,
    id_col: str = "doc_id",
    n_shards: int = 16,
    salt: str = "shard",
    order_salt: str = "ord",
) -> DataFrame:
    """Global deterministic shuffle for training serving: every row gets a
    shard (md5 hash bucket of its id — shards are balanced in expectation
    and stable under reruns/appends of OTHER rows) and a position within
    the shard (rank by a second, independent md5 — the within-shard read
    order, decorrelated from both id order and shard assignment).

    This is the 'global shuffle' a dataloader needs without ever sorting
    the corpus globally: one shuffle on the shard key, one per-shard rank.
    Each shard's rows can then be written as one file set and streamed in
    ``pos`` order — deterministic epoch order at any corpus size.
    """
    h = F.md5(F.concat(F.lit(order_salt), F.col(id_col).cast("string")))
    w = Window.partitionBy("shard").orderBy(h, F.col(id_col))
    return (
        df.select(
            F.col(id_col),
            hash_bucket(F.col(id_col), n_shards, salt).alias("shard"),
        )
        .withColumn("pos", F.row_number().over(w).cast("long"))
    )


def shard_order_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    n_shards: int = 16,
    salt: str = "shard",
    order_salt: str = "ord",
) -> str:
    """DuckDB twin of training_shard_order."""
    bucket = hash_bucket_sql(id_col, n_shards, salt)
    return f"""
    SELECT {id_col}, {bucket} AS shard,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY {bucket}
               ORDER BY md5('{order_salt}' || CAST({id_col} AS VARCHAR)),
                        {id_col}) AS BIGINT) AS pos
    FROM {table}
    """


# --- Token-budget mixture selection ------------------------------------------


def token_budget_mixture(
    df: DataFrame,
    weights: dict[str, int],
    total_tokens: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "",
) -> DataFrame:
    """Budgeted mixture in TOKENS, not rows (what a pre-training run
    actually allocates): source g gets a budget of
    ``floor(total_tokens * w_g / sum(w))`` tokens; docs enter in
    content-addressed md5 order until the NEXT doc would exceed the
    budget (prefix rule — no skipping ahead, so the selection is a pure
    function of the order and budget). Returns selected docs with their
    running token totals.

    One rank+cumsum shuffle on the group key; budgets are integer
    arithmetic broadcast as a tiny map. Docs outside ``weights`` drop.
    """
    from .text import with_token_count  # noqa: PLC0415 (cycle guard)

    spark = df.sparkSession
    wsum = sum(weights.values())
    budgets = F.broadcast(
        spark.createDataFrame(
            [(g, int(total_tokens * w) // wsum) for g, w in sorted(weights.items())],
            f"{group_col} string, _budget long",
        )
    )
    toks = with_token_count(df, text_col=text_col, out="n_tokens").select(
        group_col, id_col, F.col("n_tokens").cast("long").alias("n_tokens")
    )
    h = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    w = (
        Window.partitionBy(group_col)
        .orderBy(h, F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = toks.join(budgets, group_col).withColumn(
        "cum_tokens", F.sum("n_tokens").over(w)
    )
    return cum.filter(F.col("cum_tokens") <= F.col("_budget")).select(
        group_col, id_col, "n_tokens", "cum_tokens"
    )


def token_budget_sql(
    weights: dict[str, int],
    total_tokens: int,
    table: str = "documents",
    group_expr: str = "source",
    id_col: str = "doc_id",
    text_expr: str = "text",
    salt: str = "",
) -> str:
    """DuckDB twin of token_budget_mixture (same integer budgets, same
    md5 order, same prefix rule)."""
    wsum = sum(weights.values())
    wvals = ", ".join(
        f"('{g}', {int(total_tokens * w) // wsum})" for g, w in sorted(weights.items())
    )
    ntok = (
        f"len(regexp_split_to_array(lower(trim({text_expr})), '\\s+'))"
    )
    return f"""
    WITH b(grp, budget) AS (VALUES {wvals}),
    toks AS (
        SELECT {group_expr} AS grp, {id_col},
               CAST({ntok} AS BIGINT) AS n_tokens
        FROM {table} JOIN b ON b.grp = {group_expr}
    ),
    cum AS (
        SELECT grp, {id_col}, n_tokens,
               CAST(SUM(n_tokens) OVER (
                   PARTITION BY grp
                   ORDER BY md5('{salt}' || CAST({id_col} AS VARCHAR)), {id_col}
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        FROM toks
    )
    SELECT grp AS {group_expr}, {id_col}, n_tokens, cum_tokens
    FROM cum JOIN b USING (grp)
    WHERE cum_tokens <= budget
    """


# --- Leakage-safe train/test split --------------------------------------------
# with_split keys the split on a single id column; that still LEAKS when two
# near-duplicate documents carry different ids — the test set then contains
# paraphrases of training rows and benchmark numbers inflate. The fix: split
# by near-dup GROUP (connected component of the near-dup graph), so an entire
# duplicate cluster lands on one side, and MEASURE the remaining cross-split
# pair count (zero by construction — the report proves it).


def leakage_safe_split_report(
    df: DataFrame,
    clusters: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 75,
    salt: str = "ls",
) -> DataFrame:
    """Split documents train/test by near-dup-cluster hash and audit the
    result: (split, n_docs, n_groups, cross_split_pairs). ``clusters`` is
    (id, canonical_id) over clustered docs (singletons absent — they fall
    back to their own id); ``pairs`` is the near-dup edge list (id_a,
    id_b) whose endpoints must never straddle the split.

    Distributed shape: one broadcast-or-shuffle join to attach group ids,
    one md5 bucket per group (content-addressed — stable under retries
    and data growth), one count aggregate; the audit joins the EDGE list
    (duplicate-density-sized, not corpus-sized) against the assignment
    twice."""
    g = (
        df.select(id_col)
        .join(clusters, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("canonical_id"), F.col(id_col)).alias("gid"),
        )
    )
    b = hash_bucket(F.col("gid"), 100, salt)
    assigned = g.withColumn(
        "split", F.when(b < train_pct, F.lit("train")).otherwise(F.lit("test"))
    )
    a = assigned.select(F.col(id_col).alias("id_a"), F.col("split").alias("_sa"))
    bb = assigned.select(F.col(id_col).alias("id_b"), F.col("split").alias("_sb"))
    leaks = (
        pairs.select("id_a", "id_b")
        .join(a, "id_a")
        .join(bb, "id_b")
        .agg(
            F.coalesce(
                F.sum((F.col("_sa") != F.col("_sb")).cast("long")), F.lit(0)
            )
            .cast("long")
            .alias("cross_split_pairs")
        )
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("gid").alias("n_groups"),
        )
        .crossJoin(F.broadcast(leaks))
    )


# --- Stratified k-fold assignment --------------------------------------------
# Cross-validation folds that preserve the label mixture: within each
# stratum, rank by content-addressed md5 order (stable under
# repartitioning and engine changes — the quota-sample discipline) and
# deal round-robin, so every fold holds floor/ceil(n_g / k) rows of each
# stratum. Purely rank arithmetic: fold sizes are exactly balanced, not
# balanced in expectation like independent hashing.


def stratified_kfold(
    df: DataFrame,
    strata_col: str = "lang",
    key_col: str = "doc_id",
    k: int = 5,
    salt: str = "fold",
) -> DataFrame:
    """(key, stratum, fold): round-robin deal of each stratum's
    md5-ordered rows into ``k`` folds. One window per stratum; no data
    moves except the (key, stratum) projection."""
    h = F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string")))
    w = Window.partitionBy(strata_col).orderBy(h, F.col(key_col))
    return df.select(
        F.col(key_col),
        F.col(strata_col),
        ((F.row_number().over(w) - 1) % k).cast("int").alias("fold"),
    )


def stratified_kfold_sql(
    table: str = "documents",
    strata_col: str = "lang",
    key_col: str = "doc_id",
    k: int = 5,
    salt: str = "fold",
) -> str:
    """DuckDB twin of stratified_kfold."""
    return f"""
    SELECT {key_col}, {strata_col},
           CAST((ROW_NUMBER() OVER (
               PARTITION BY {strata_col}
               ORDER BY md5('{salt}' || CAST({key_col} AS VARCHAR)),
                        {key_col}) - 1) % {k} AS INT) AS fold
    FROM {table}
    """


# --- Priority (bottom-k weighted) sampling -----------------------------------
# The one-pass, mergeable weighted sample (Duffield/Lund/Thorup, JACM'07):
# each row gets priority q = w / u with u uniform in (0, 1]; the k highest
# priorities are the sample, and re-weighting by max(w, τ) (τ = the
# (k+1)-th priority) makes subset-sum estimates unbiased. u is
# content-addressed (md5 of the id), so the draw is deterministic,
# partition-independent, and engine-portable — no RNG state anywhere.


def priority_rows(
    df: DataFrame,
    weight_col: str = "n_chars",
    id_col: str = "doc_id",
    salt: str = "pri",
) -> DataFrame:
    """(id, weight, _q): per-row DLT priorities q = w/u with the
    content-addressed uniform u = (md5₃₂(salt‖id) + 1) / 2³² ∈ (0, 1].
    Factored out so the streaming job can persist per-batch top-(k+1)
    prefixes of exactly this table."""
    h32 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    u = (h32 + 1) / F.lit(4294967296.0)  # (0, 1] — never a zero divide
    return df.select(
        F.col(id_col),
        F.col(weight_col).cast("long").alias("weight"),
        (F.col(weight_col).cast("double") / u).alias("_q"),
    )


def priority_sample_finish(
    pri: DataFrame, id_col: str = "doc_id", k: int = 100
) -> DataFrame:
    """Top-k + τ re-weighting over a priority table (see
    priority_weighted_sample). Because top-(k+1) of a union equals
    top-(k+1) of per-part top-(k+1) prefixes, this finish step applied to
    merged per-shard/per-batch prefixes reproduces the one-shot sample
    bit-for-bit — the mergeability the streaming job relies on."""
    from .windows import take_ordered  # noqa: PLC0415 (cycle guard)

    top = take_ordered(pri, [F.col("_q").desc(), F.col(id_col)], k + 1)
    tau = F.broadcast(
        top.agg(
            F.when(F.count(F.lit(1)) > k, F.min("_q"))
            .otherwise(F.lit(0.0))
            .alias("_tau")
        )
    )
    return (
        take_ordered(top, [F.col("_q").desc(), F.col(id_col)], k)
        .crossJoin(tau)
        .select(
            id_col,
            "weight",
            F.round(
                F.greatest(F.col("weight").cast("double"), F.col("_tau")), 6
            ).alias("adj_weight"),
        )
    )


def priority_weighted_sample(
    df: DataFrame,
    weight_col: str = "n_chars",
    id_col: str = "doc_id",
    k: int = 100,
    salt: str = "pri",
) -> DataFrame:
    """(id, weight, adj_weight): the k rows with the highest priorities
    w/u, with the DLT unbiased estimator weight max(w, τ) rounded 6dp.
    If the input has ≤ k rows every row survives with adj_weight = w.

    Distributed shape: top-(k+1) by priority is Spark's TakeOrdered — a
    per-partition partial top-k then a k-sized merge; the corpus is
    scanned once and never shuffled. The only doubles are one division
    per row and the final max(w, τ), identical IEEE ops on any engine."""
    return priority_sample_finish(
        priority_rows(df, weight_col, id_col, salt), id_col, k
    )


def priority_sample_sql(
    table: str = "documents",
    weight_col: str = "n_chars",
    id_col: str = "doc_id",
    k: int = 100,
    salt: str = "pri",
) -> str:
    """DuckDB twin of priority_weighted_sample (same md5-derived u, same
    top-(k+1) threshold)."""
    gx = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5('{salt}' || CAST({id_col} AS VARCHAR)), {j + 1}, 1)) - 1) * {16 ** (7 - j)}"
        for j in range(8)
    )
    return f"""
    WITH pri AS (
        SELECT {id_col}, CAST({weight_col} AS BIGINT) AS weight,
               CAST({weight_col} AS DOUBLE)
               / ((({gx})::BIGINT + 1) / 4294967296.0) AS q
        FROM {table}
    ),
    top1 AS (
        SELECT * FROM pri ORDER BY q DESC, {id_col} LIMIT {k + 1}
    ),
    tau AS (
        SELECT CASE WHEN COUNT(*) > {k} THEN MIN(q) ELSE 0.0 END AS tau
        FROM top1
    )
    SELECT {id_col}, weight,
           ROUND(greatest(CAST(weight AS DOUBLE), tau), 6) AS adj_weight
    FROM (SELECT * FROM top1 ORDER BY q DESC, {id_col} LIMIT {k})
    CROSS JOIN tau
    """


# --- Temperature-scaled source mixture ---------------------------------------
# The multilingual/multi-source training classic (e.g. the α-scaled
# sampling in public multilingual-LM recipes): sampling weight per source
# ∝ n_h^α with 0 < α < 1 upweights the tail without flattening it. The
# doc budget apportions by largest remainder over exact scaled shares, so
# the targets sum to the budget EXACTLY and the draw is deterministic.


def temperature_source_mixture(
    df: DataFrame,
    group_col: str = "source",
    budget: int = 1000,
    alpha: float = 0.5,
) -> DataFrame:
    """(group, n_docs, weight, target_docs): weight = n^α / Σ n^α rounded
    6dp; target_docs = floor(budget · share) plus one of the
    largest-remainder top-ups, capped at n_docs (a source can't supply
    more docs than it has; the leftover stays unassigned, as in the
    integer token-budget operator). α = 0.5 makes n^α = sqrt(n) — a
    correctly-rounded IEEE op, bit-identical on any engine.

    One group-count shuffle; everything after runs on the
    sources-sized table through a single ordered window."""
    if alpha != 0.5:
        # pow(x, α) is only ~1-ulp accurate and a 1-ulp share drift can
        # flip the floor() below between engines; sqrt is IEEE-exact.
        raise ValueError("only alpha=0.5 (sqrt scaling) is engine-exact")
    scaled = F.sqrt(F.col("n_docs").cast("double"))
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_docs"))
    tot = F.broadcast(
        counts.agg(
            # exact decimal sum: order-independent across partitions
            F.sum(scaled.cast("decimal(38,12)")).cast("double").alias("_z"),
        )
    )
    share = scaled / F.col("_z")
    base = F.floor(F.lit(budget) * share).cast("long")
    rem = F.lit(budget) * share - base
    # tiebreak NULL order is pinned on both engines: Spark asc defaults to
    # NULLS FIRST and the SQL twin says NULLS FIRST explicitly — exact rem
    # ties (two sources with equal doc counts) are common, and a NULL
    # group must take the +1 top-up on the same engine-independent rank
    w = Window.orderBy(F.col("_rem").desc(), F.asc_nulls_first(group_col))
    wsum = Window.partitionBy(F.lit(1))
    return (
        counts.crossJoin(tot)
        .withColumn("_base", base)
        .withColumn("_rem", rem)
        .withColumn("_rk", F.row_number().over(w))
        .withColumn("_left", F.lit(budget) - F.sum("_base").over(wsum))
        .select(
            group_col,
            "n_docs",
            F.round(share, 6).alias("weight"),
            F.least(
                F.col("_base")
                + F.when(F.col("_rk") <= F.col("_left"), 1).otherwise(0),
                F.col("n_docs"),
            ).alias("target_docs"),
        )
    )


def temperature_mixture_sql(
    table: str = "documents",
    group_col: str = "source",
    budget: int = 1000,
    alpha: float = 0.5,
) -> str:
    """DuckDB twin of temperature_source_mixture (same sqrt shares, same
    largest-remainder deal)."""
    return f"""
    WITH counts AS (
        SELECT {group_col}, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM {table} GROUP BY {group_col}
    ),
    tot AS (
        SELECT CAST(SUM(CAST(SQRT(CAST(n_docs AS DOUBLE))
                             AS DECIMAL(38,12))) AS DOUBLE) AS z
        FROM counts
    ),
    scored AS (
        SELECT {group_col}, n_docs,
               SQRT(CAST(n_docs AS DOUBLE)) / z AS share,
               CAST(FLOOR({budget} * (SQRT(CAST(n_docs AS DOUBLE)) / z))
                    AS BIGINT) AS base,
               {budget} * (SQRT(CAST(n_docs AS DOUBLE)) / z)
               - FLOOR({budget} * (SQRT(CAST(n_docs AS DOUBLE)) / z))
                   AS rem
        FROM counts CROSS JOIN tot
    )
    SELECT {group_col}, n_docs, ROUND(share, 6) AS weight,
           least(base + CASE WHEN ROW_NUMBER() OVER (
                                  ORDER BY rem DESC,
                                           {group_col} NULLS FIRST)
                             <= {budget} - SUM(base) OVER ()
                             THEN 1 ELSE 0 END,
                 n_docs) AS target_docs
    FROM scored
    """


# --- Chronological split with embargo ----------------------------------------
# Time-series leakage control (the purged/embargoed split from the
# financial-ML literature): train strictly before the cutoff minus an
# embargo gap, test strictly from the cutoff on; rows inside the gap are
# DROPPED so serially-correlated neighbors never straddle the boundary.
# The audit column reports the one leak no calendar split can fix —
# entities active on both sides.


def time_embargo_split(
    df: DataFrame,
    ts_col: str = "ts",
    entity_col: str = "user_id",
    train_pct: int = 80,
    embargo_days: int = 2,
) -> DataFrame:
    """(split, n_events, n_entities, overlap_entities): cutoff at
    min_date + train_pct% of the (inclusive) day span; train days end
    ``embargo_days`` before the cutoff, test days start at it. The
    entity-overlap audit counts entities with events in BOTH splits —
    the residual leakage a time split cannot remove (group-split on the
    entity instead if it must be zero).

    One broadcast of the 1-row date bounds, one pass to tag, one
    group-by; the overlap audit joins two entity-distinct sides."""
    ev = df.select(
        F.to_date(ts_col).alias("_d"), F.col(entity_col).alias("_e")
    )
    bounds = F.broadcast(
        ev.agg(F.min("_d").alias("_d0"), F.max("_d").alias("_d1")).select(
            F.expr(
                f"date_add(_d0, CAST(((datediff(_d1, _d0) + 1) * {train_pct})"
                f" div 100 AS INT))"
            ).alias("_cut")
        )
    )
    tagged = ev.crossJoin(bounds).withColumn(
        "split",
        F.when(
            F.col("_d") < F.date_sub(F.col("_cut"), embargo_days), "train"
        ).when(F.col("_d") >= F.col("_cut"), "test"),
    ).filter(F.col("split").isNotNull())
    overlap = F.broadcast(
        tagged.filter(F.col("split") == "train")
        .select("_e")
        .distinct()
        .join(
            tagged.filter(F.col("split") == "test").select("_e").distinct(),
            "_e",
            "leftsemi",
        )
        .agg(F.count(F.lit(1)).alias("overlap_entities"))
    )
    return (
        tagged.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("_e").alias("n_entities"),
        )
        .crossJoin(overlap)
    )


def time_embargo_sql(
    table: str = "events",
    ts_col: str = "ts",
    entity_col: str = "user_id",
    train_pct: int = 80,
    embargo_days: int = 2,
) -> str:
    """DuckDB twin of time_embargo_split (same inclusive-span cutoff, same
    half-open boundaries)."""
    return f"""
    WITH ev AS (
        SELECT CAST({ts_col} AS DATE) AS d, {entity_col} AS e FROM {table}
    ),
    bounds AS (
        SELECT MIN(d) + CAST(((MAX(d) - MIN(d) + 1) * {train_pct}) // 100
                             AS INTEGER) AS cut
        FROM ev
    ),
    tagged AS (
        SELECT e,
               CASE WHEN d < cut - {embargo_days} THEN 'train'
                    WHEN d >= cut THEN 'test' END AS split
        FROM ev CROSS JOIN bounds
        WHERE d < cut - {embargo_days} OR d >= cut
    ),
    overlap AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS overlap_entities
        FROM (SELECT DISTINCT e FROM tagged WHERE split = 'train')
        WHERE e IN (SELECT e FROM tagged WHERE split = 'test')
    )
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT e) AS BIGINT) AS n_entities,
           overlap_entities
    FROM tagged CROSS JOIN overlap
    GROUP BY split, overlap_entities
    """


# --- Sequence packing (context-window assembly) -------------------------------
# The last step of a pretraining data pipeline: assemble tokenized
# documents into fixed-size context windows ("sequences") with greedy
# CONTIGUOUS packing — documents are taken in a deterministic order and
# a window closes when the next document would overflow the token
# budget. Contiguity (never reordering to fill holes) is the property
# curriculum/dedup decisions upstream rely on; bin-packing variants
# that reorder belong to the sampler, not the packer.


def pack_sequences(
    df: DataFrame,
    budget: int,
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    n_shards: int = 16,
    salt: str = "shard",
    order_salt: str = "ord",
    keep_token_col: bool = False,
) -> DataFrame:
    """(doc_id, shard, pos, seq, seq_pos, oversize): greedy contiguous
    packing of documents into ``budget``-token context windows, in the
    deterministic per-shard order of :func:`training_shard_order` (the
    same shard/pos expressions, computed inline so the token column
    rides along — re-joining the corpus on id just to re-attach it
    would double the operator's shuffle). ``seq`` is the within-shard
    window index (0-based), ``seq_pos`` the document's position inside
    its window, ``oversize`` flags a document longer than the whole
    budget — it closes any open window and occupies one alone (the
    trainer's truncation policy applies downstream; the packer never
    drops data). A window closes when it is NON-EMPTY and the next
    document would overflow it (``seq_pos > 0``, not a token-count
    check: zero-token documents occupy slots too, and the SQL twin is
    the reference for the tie). NULL token counts are rejected loudly
    with the offending ids — a NaN would otherwise surface as an opaque
    astype error deep in an executor.

    Distributed shape: packing is a sequential recurrence (each window
    boundary depends on the previous one through the running remainder),
    so the SHARD is the parallelism unit — one ``applyInPandas`` group
    per shard, thousands of shards at corpus scale, with only
    (id, tokens) columns flowing through Arrow. Within a shard the
    greedy fold is O(rows); a shard at 100 TB holds corpus/n_shards
    documents, so ``n_shards`` is the knob that keeps per-task state
    bounded (the same sizing discipline as every blocked operator
    here). Unlike the blocked-rank family's block count — the session's
    shuffle width, free to follow the conf because ranks are invariant
    to it — ``n_shards`` is SEMANTIC: the assignment
    (which docs share a window) depends on it, and it must equal the
    training job's serving-shard count, so no automatic derivation
    applies. A 100 TB caller sizes it to the dataloader's reader
    parallelism (typically thousands), never leaves it at the
    test-scale default. An O(n log n) fully-parallel alternative exists (prefix sums
    + pointer-doubled "next boundary" jumps) if single-shard streams
    ever become the bottleneck; the per-shard fold is exact and simpler.

    ``keep_token_col=True`` appends the token column to the output
    (same name and type as the input) — the tokens are already inside
    the Arrow fold, so consumers that need them per assignment (the
    window manifest) read them for free instead of re-joining the
    corpus on id, which costs two corpus-sized hash shuffles. Default
    False keeps the assignment schema minimal and stable.

    Exactness: integer arithmetic over a deterministic order — the
    output is independent of partitioning and rerun-stable, and
    bit-identical to :func:`pack_sequences_sql`.
    """
    if budget < 1:
        raise ValueError(f"pack_sequences: budget must be >= 1, got {budget}")
    reserved = {"shard", "pos", "seq", "seq_pos", "oversize"}
    clash = reserved & {id_col, token_col}
    if clash:
        raise ValueError(
            "pack_sequences: id_col/token_col collide with output "
            f"columns {sorted(clash)} — rename the input column"
        )
    if id_col == token_col:
        # one column can't be both: the select would duplicate the name
        # and pdf[token_col] would return a 2-col frame inside the
        # executor — the same opaque deep failure the reserved-name
        # check exists to prevent
        raise ValueError(
            f"pack_sequences: id_col and token_col are both {id_col!r} — "
            "they must be distinct columns"
        )
    import pandas as pd  # noqa: PLC0415

    h = F.md5(F.concat(F.lit(order_salt), F.col(id_col).cast("string")))
    w = Window.partitionBy("shard").orderBy(h, F.col(id_col))
    ordered = (
        df.select(
            id_col,
            token_col,
            hash_bucket(F.col(id_col), n_shards, salt).alias("shard"),
        )
        .withColumn("pos", F.row_number().over(w).cast("long"))
    )

    out_schema = (
        f"{id_col} {dict(ordered.dtypes)[id_col]}, shard int, pos long,"
        f" seq long, seq_pos int, oversize boolean"
    )
    if keep_token_col:
        out_schema += f", {token_col} {dict(ordered.dtypes)[token_col]}"

    def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        if pdf[token_col].isnull().any():
            bad = pdf.loc[pdf[token_col].isnull(), id_col].head(5).tolist()
            raise ValueError(
                f"pack_sequences: NULL {token_col} for ids {bad}"
            )
        pdf = pdf.sort_values("pos")
        seqs, seq_positions, oversizes = [], [], []
        seq = 0
        acc = 0
        seq_pos = 0
        for tok in pdf[token_col].astype("int64"):
            over = tok > budget
            if seq_pos > 0 and (acc + tok > budget or over):
                seq += 1
                acc = 0
                seq_pos = 0
            seqs.append(seq)
            seq_positions.append(seq_pos)
            oversizes.append(bool(over))
            acc += int(tok)
            seq_pos += 1
            if over:  # oversize doc occupies its window alone
                seq += 1
                acc = 0
                seq_pos = 0
        cols = {
            id_col: pdf[id_col],
            "shard": pdf["shard"].astype("int32"),
            "pos": pdf["pos"].astype("int64"),
            "seq": pd.Series(seqs, index=pdf.index, dtype="int64"),
            "seq_pos": pd.Series(
                seq_positions, index=pdf.index, dtype="int32"
            ),
            "oversize": pd.Series(
                oversizes, index=pdf.index, dtype="bool"
            ),
        }
        if keep_token_col:
            cols[token_col] = pdf[token_col]
        return pd.DataFrame(cols)

    return ordered.groupBy("shard").applyInPandas(pack, schema=out_schema)


def pack_sequences_sql(
    budget: int,
    table: str = "documents",
    token_expr: str = "n_chars",
    id_col: str = "doc_id",
    n_shards: int = 16,
    salt: str = "shard",
    order_salt: str = "ord",
) -> str:
    """DuckDB twin of :func:`pack_sequences` — the greedy fold as a
    per-shard recursive CTE stepping one document at a time (depth =
    max docs per shard; fine at oracle scale). Kept beside the operator
    so a future gate row only needs registration.

    NULL token values raise loudly (DuckDB ``error()``), matching the
    Spark side's executor ValueError — without the guard ``tok >
    budget`` evaluates to NULL and silently corrupts seq/oversize for
    every later document in the shard, so a future registration that
    forgets the NULL pre-filter would diverge quietly instead of
    failing the gate."""
    inner = shard_order_sql(table, id_col, n_shards, salt, order_salt)
    tok_guard = (
        f"CASE WHEN t.{token_expr} IS NULL THEN "
        f"CAST(error('pack_sequences_sql: NULL {token_expr}') AS BIGINT) "
        f"ELSE CAST(t.{token_expr} AS BIGINT) END"
    )
    return f"""
    WITH RECURSIVE ordered AS (
        SELECT s.{id_col}, CAST(s.shard AS INT) AS shard, s.pos,
               {tok_guard} AS tok
        FROM ({inner}) s JOIN {table} t USING ({id_col})
    ),
    walk AS (
        SELECT shard, pos, {id_col}, tok,
               CAST(0 AS BIGINT) AS seq,
               0 AS seq_pos,
               tok > {budget} AS oversize,
               CASE WHEN tok > {budget} THEN NULL ELSE tok END AS acc
        FROM ordered WHERE pos = 1
        UNION ALL
        SELECT o.shard, o.pos, o.{id_col}, o.tok,
               CASE WHEN w.acc IS NULL OR w.acc + o.tok > {budget}
                         OR o.tok > {budget}
                    THEN w.seq + 1 ELSE w.seq END AS seq,
               CASE WHEN w.acc IS NULL OR w.acc + o.tok > {budget}
                         OR o.tok > {budget}
                    THEN 0 ELSE w.seq_pos + 1 END AS seq_pos,
               o.tok > {budget} AS oversize,
               CASE WHEN o.tok > {budget} THEN NULL
                    WHEN w.acc IS NULL OR w.acc + o.tok > {budget}
                    THEN o.tok ELSE w.acc + o.tok END AS acc
        FROM walk w JOIN ordered o
          ON o.shard = w.shard AND o.pos = w.pos + 1
    )
    SELECT {id_col}, shard, pos, seq,
           CAST(seq_pos AS INT) AS seq_pos, oversize
    FROM walk
    """


def pack_manifest(
    df: DataFrame,
    budget: int,
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    n_shards: int = 16,
    salt: str = "shard",
    order_salt: str = "ord",
) -> DataFrame:
    """Per-window packing manifest: (shard, seq, n_docs, window_tokens,
    has_oversize, fill_rate) for every context window
    :func:`pack_sequences` would emit — the padding-efficiency report a
    training job reads before committing to a budget (wasted compute
    per step = 1 − fill_rate for non-oversize windows; oversize windows
    surface the truncation exposure instead).

    Distributed shape: the packer carries the token column THROUGH the
    Arrow fold (``keep_token_col=True`` — the tokens are already inside
    it; re-joining the corpus on id would cost two corpus-sized hash
    shuffles), so the manifest is one (shard, seq) aggregate over the
    shard-partitioned assignment — key count ~corpus_tokens/budget,
    map-side combinable. ``fill_rate`` is a single IEEE division of an
    exact integer sum by the constant budget, rounded to 6dp, so it is
    bit-stable across partitionings and engines.
    """
    assignments = pack_sequences(
        df, budget, token_col=token_col, id_col=id_col,
        n_shards=n_shards, salt=salt, order_salt=order_salt,
        keep_token_col=True,
    )
    return (
        assignments.groupBy("shard", "seq")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col(token_col)).cast("long").alias("window_tokens"),
            F.max("oversize").alias("has_oversize"),
            F.round(
                F.sum(F.col(token_col)) / F.lit(float(budget)), 6
            ).alias("fill_rate"),
        )
    )


def pack_manifest_sql(
    budget: int,
    table: str = "documents",
    token_expr: str = "n_chars",
    id_col: str = "doc_id",
    n_shards: int = 16,
    salt: str = "shard",
    order_salt: str = "ord",
) -> str:
    """DuckDB twin of :func:`pack_manifest`: the recursive packing walk
    joined back to the table and aggregated per (shard, seq)."""
    inner = pack_sequences_sql(
        budget, table, token_expr, id_col, n_shards, salt, order_salt
    )
    return f"""
    WITH assignments AS ({inner})
    SELECT a.shard, a.seq,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(t.{token_expr}) AS BIGINT) AS window_tokens,
           MAX(a.oversize) AS has_oversize,
           ROUND(SUM(t.{token_expr}) / {float(budget)}, 6) AS fill_rate
    FROM assignments a JOIN {table} t USING ({id_col})
    GROUP BY a.shard, a.seq
    """
