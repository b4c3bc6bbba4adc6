"""ML train/score stages (SURVEY.md §2.10 U5).

Reference: Solutions/gold_war_etl_dag.py:158-181 trains a RandomForest on the
gold×war-news training table and lecture6/test_model.py:26-52 re-scores the
saved model and recomputes accuracy. Spark restatement: the training table is
a DataFrame (pipelines/goldwar.py), the model is a ``pyspark.ml`` Pipeline
(VectorAssembler → RandomForestClassifier) trained with a fixed seed, and
scoring is an ordinary DataFrame transformation — so at scale the scoring
pass is embarrassingly parallel over executors while the (small, per-series)
fit happens once.

``linear_margin`` is the oracle-expressible scoring stage: applying a FIXED
weight vector is pure column algebra (JVM-side, codegen), which is what batch
inference of an already-trained linear model looks like at 100 TB — and what
the driver's DuckDB gate can verify bit-for-bit.
"""

from __future__ import annotations

import math

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from .operators.materialize import lineage_cut


def train_classifier(
    training: DataFrame,
    feature_cols: Sequence[str],
    label_col: str = "target",
    seed: int = 42,
    num_trees: int = 20,
    max_depth: int = 5,
):
    """Fit VectorAssembler → RandomForestClassifier with a fixed seed
    (gold_war_etl_dag.py:158-181's RandomForest, as a Spark ML Pipeline).
    Returns the fitted PipelineModel; same seed + same data → same model."""
    from pyspark.ml import Pipeline  # noqa: PLC0415 — keep pyspark.ml optional
    from pyspark.ml.classification import RandomForestClassifier  # noqa: PLC0415
    from pyspark.ml.feature import VectorAssembler  # noqa: PLC0415

    assembler = VectorAssembler(
        inputCols=list(feature_cols), outputCol="features", handleInvalid="skip"
    )
    rf = RandomForestClassifier(
        labelCol=label_col,
        featuresCol="features",
        numTrees=num_trees,
        maxDepth=max_depth,
        seed=seed,
    )
    return Pipeline(stages=[assembler, rf]).fit(training)


def score(model, df: DataFrame, keep_cols: Sequence[str] | None = None) -> DataFrame:
    """Scoring as a DataFrame stage: model.transform, trimmed to the caller's
    columns + ``prediction``. Distributed row-wise — no driver involvement."""
    out = model.transform(df)
    if keep_cols is None:
        keep_cols = df.columns
    return out.select(*keep_cols, "prediction")


def accuracy(model, df: DataFrame, label_col: str = "target") -> float:
    """Recomputed accuracy, the way lecture6/test_model.py:26-52 checks a
    shipped model: fraction of rows where prediction == label."""
    scored = model.transform(df)
    # one pass, not two (r14): count + conditional count in a single
    # aggregate — the old count()/filter().count() pair re-ran the whole
    # scoring subtree twice. Same integers, same float division.
    row = scored.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(
            F.when(
                F.col("prediction") == F.col(label_col).cast("double"), 1
            )
        ).alias("hits"),
    ).first()
    if row["n"] == 0:
        return 0.0
    return row["hits"] / row["n"]


def linear_margin(
    features: Sequence[Column | str], weights: Sequence[float], bias: float = 0.0
) -> Column:
    """Fixed-weight linear margin z = bias + Σ w_i·x_i as a single JVM-side
    expression — a left-associative fold of deterministic IEEE +/* ops, so
    the value is bit-identical to the SQL twin (``linear_margin_sql``).
    sign(z) is the class decision (z >= 0 ⇔ sigmoid(z) >= 0.5), which keeps
    the driver-gated scoring query free of ``exp`` — libm exp differs by
    ulps across engines."""
    z = F.lit(float(bias))
    for feat, w in zip(features, weights):
        col = F.col(feat) if isinstance(feat, str) else feat
        z = z + col.cast("double") * F.lit(float(w))
    return z


def linear_margin_sql(
    features: Sequence[str], weights: Sequence[float], bias: float = 0.0
) -> str:
    """DuckDB twin of ``linear_margin`` — same term order, same literals."""
    z = f"{float(bias)!r}"
    for feat, w in zip(features, weights):
        z += f" + CAST({feat} AS DOUBLE) * {float(w)!r}"
    return f"({z})"


def stump_train_score(
    df: DataFrame,
    feature: Column,
    label: Column,
    id_col: str = "event_id",
    max_feature: int = 23,
) -> DataFrame:
    """Train AND score a depth-1 decision tree (stump) fully in-engine,
    deterministically: candidate splits t = 1..max_feature over an integer
    feature, weighted Gini impurity from exact integer counts, argmin with
    a t tiebreak, then majority-class prediction per side.

    The whole train step is a 24-row aggregate crossed with 23 candidate
    thresholds — broadcast scale regardless of corpus size; the score step
    is one broadcast join. Every Gini is the same double expression over
    the same integer counts on both engines, so the chosen split (and
    therefore every prediction) is oracle-reproducible — this is the
    trained-model complement to linear_margin's fixed-weight inference
    (SURVEY §2.10 U5; reference trains a RandomForest at
    Solutions/gold_war_etl_dag.py:158-181 — the stump is the
    SQL-expressible member of that family).
    """
    base = df.select(
        F.col(id_col), feature.alias("x"), label.cast("int").alias("y")
    )
    xc = base.groupBy("x").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos")
    )
    ts = base.sparkSession.range(1, max_feature + 1).select(
        F.col("id").alias("t")
    )
    sides = xc.crossJoin(F.broadcast(ts)).withColumn(
        "side", F.when(F.col("x") < F.col("t"), "L").otherwise("R")
    )
    per_side = sides.groupBy("t", "side").agg(
        F.sum("n").alias("sn"), F.sum("pos").alias("sp")
    )
    stats = (
        per_side.groupBy("t")
        .agg(
            F.sum(F.when(F.col("side") == "L", F.col("sn")).otherwise(0)).alias("nl"),
            F.sum(F.when(F.col("side") == "L", F.col("sp")).otherwise(0)).alias("pl"),
            F.sum(F.when(F.col("side") == "R", F.col("sn")).otherwise(0)).alias("nr"),
            F.sum(F.when(F.col("side") == "R", F.col("sp")).otherwise(0)).alias("pr"),
        )
        .filter((F.col("nl") > 0) & (F.col("nr") > 0))
    )
    gini_l = 1.0 - (F.col("pl") / F.col("nl")) * (F.col("pl") / F.col("nl")) - (
        (F.col("nl") - F.col("pl")) / F.col("nl")
    ) * ((F.col("nl") - F.col("pl")) / F.col("nl"))
    gini_r = 1.0 - (F.col("pr") / F.col("nr")) * (F.col("pr") / F.col("nr")) - (
        (F.col("nr") - F.col("pr")) / F.col("nr")
    ) * ((F.col("nr") - F.col("pr")) / F.col("nr"))
    n_tot = (F.col("nl") + F.col("nr")).cast("double")
    scored = stats.withColumn(
        "gini", (F.col("nl") / n_tot) * gini_l + (F.col("nr") / n_tot) * gini_r
    )
    from pyspark.sql import Window as _W

    best = (
        scored.withColumn(
            "_r",
            F.row_number().over(_W.orderBy(F.col("gini").asc(), F.col("t").asc())),
        )
        .filter(F.col("_r") == 1)
        .select(
            "t",
            (F.col("pl") * 2 > F.col("nl")).cast("int").alias("pred_l"),
            (F.col("pr") * 2 > F.col("nr")).cast("int").alias("pred_r"),
        )
    )
    # No candidate threshold splits the data (all feature values on one
    # side for every t) → `best` is empty and the crossJoin would silently
    # return zero predictions. Fall back to a no-split majority-class model
    # (split_t=0: every x lands on the R side). The DuckDB twin applies the
    # identical fallback, so the gate still hash-matches.
    majority = (F.col("pos") * 2 > F.col("n")).cast("int")
    fallback = (
        base.agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos"))
        .select(
            F.lit(0).cast("long").alias("t"),
            majority.alias("pred_l"),
            majority.alias("pred_r"),
            F.lit(1).alias("_prio"),
        )
    )
    best = (
        best.withColumn("_prio", F.lit(0))
        .unionByName(fallback)
        .withColumn("_r2", F.row_number().over(_W.orderBy("_prio")))
        .filter(F.col("_r2") == 1)
        .select("t", "pred_l", "pred_r")
    )
    pred = F.when(F.col("x") < F.col("t"), F.col("pred_l")).otherwise(
        F.col("pred_r")
    )
    return base.crossJoin(F.broadcast(best)).select(
        id_col,
        F.col("x"),
        F.col("y").alias("label"),
        F.col("t").alias("split_t"),
        pred.alias("pred"),
        (pred == F.col("y")).cast("int").alias("correct"),
    )


def stump_train_score_sql(
    table: str = "events",
    feature_expr: str = "date_part('hour', ts)::INT",
    label_expr: str = "CAST(event_type = 'purchase' AS INT)",
    id_col: str = "event_id",
    max_feature: int = 23,
) -> str:
    """DuckDB twin of stump_train_score: identical Gini expression over
    identical integer counts, identical (gini, t) argmin tiebreak."""
    return f"""
    WITH base AS (
        SELECT {id_col}, {feature_expr} AS x, {label_expr} AS y FROM {table}
    ),
    xc AS (SELECT x, COUNT(*) AS n, SUM(y) AS pos FROM base GROUP BY x),
    ts AS (SELECT unnest(range(1, {max_feature + 1})) AS t),
    sides AS (
        SELECT xc.*, ts.t,
               CASE WHEN x < t THEN 'L' ELSE 'R' END AS side
        FROM xc CROSS JOIN ts
    ),
    per_side AS (
        SELECT t, side, SUM(n) AS sn, SUM(pos) AS sp
        FROM sides GROUP BY t, side
    ),
    stats AS (
        SELECT t,
               SUM(CASE WHEN side = 'L' THEN sn ELSE 0 END) AS nl,
               SUM(CASE WHEN side = 'L' THEN sp ELSE 0 END) AS pl,
               SUM(CASE WHEN side = 'R' THEN sn ELSE 0 END) AS nr,
               SUM(CASE WHEN side = 'R' THEN sp ELSE 0 END) AS pr
        FROM per_side GROUP BY t
        HAVING SUM(CASE WHEN side = 'L' THEN sn ELSE 0 END) > 0
           AND SUM(CASE WHEN side = 'R' THEN sn ELSE 0 END) > 0
    ),
    scored AS (
        SELECT t, nl, pl, nr, pr,
               (nl / CAST(nl + nr AS DOUBLE))
               * (1.0 - (pl / nl) * (pl / nl)
                      - ((nl - pl) / nl) * ((nl - pl) / nl))
               + (nr / CAST(nl + nr AS DOUBLE))
               * (1.0 - (pr / nr) * (pr / nr)
                      - ((nr - pr) / nr) * ((nr - pr) / nr)) AS gini
        FROM stats
    ),
    split_best AS (
        SELECT t,
               CAST(pl * 2 > nl AS INT) AS pred_l,
               CAST(pr * 2 > nr AS INT) AS pred_r
        FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY gini ASC, t ASC) AS r
              FROM scored) WHERE r = 1
    ),
    fallback AS (
        -- no-split majority-class model when no threshold separates the
        -- data (same fallback as the Spark engine: split_t=0, all-R)
        SELECT CAST(0 AS BIGINT) AS t,
               CAST(SUM(y) * 2 > COUNT(*) AS INT) AS pred_l,
               CAST(SUM(y) * 2 > COUNT(*) AS INT) AS pred_r
        FROM base
    ),
    best AS (
        SELECT t, pred_l, pred_r FROM (
            SELECT *, ROW_NUMBER() OVER (ORDER BY prio) AS r2 FROM (
                SELECT t, pred_l, pred_r, 0 AS prio FROM split_best
                UNION ALL
                SELECT t, pred_l, pred_r, 1 AS prio FROM fallback
            )
        ) WHERE r2 = 1
    )
    SELECT b.{id_col}, b.x, b.y AS label, best.t AS split_t,
           CASE WHEN b.x < best.t THEN best.pred_l ELSE best.pred_r END AS pred,
           CAST((CASE WHEN b.x < best.t THEN best.pred_l ELSE best.pred_r END)
                = b.y AS INT) AS correct
    FROM base b CROSS JOIN best
    """


def perceptron_train_score(
    df: DataFrame,
    features: Sequence[Column],
    label: Column,
    id_col: str = "event_id",
    n_iters: int = 3,
) -> DataFrame:
    """Train AND score a batch perceptron fully in-engine with EXACT
    integer arithmetic — the iterative-training complement to the one-shot
    Gini stump (stump_train_score) on the U5 axis.

    Rosenblatt's batch update, unrolled: starting from w = 0, each of
    ``n_iters`` epochs adds sum(y_i * x_i) over currently-misclassified
    rows (y*(w.x) <= 0) to w. Features and labels are integers, so every
    weight is an exact integer at every step — no float boundary anywhere
    in TRAINING; only the reported margin/prediction are plain integer
    columns too. The DuckDB twin unrolls the same epochs as chained CTEs,
    so the learned weights — and therefore every prediction — hash-match.

    Scale shape: each epoch is ONE map-side-combinable aggregate over the
    corpus (three conditional integer sums) collected as a single row —
    the same bounded driver contract as IVF's centroid seeds; scoring is
    one broadcast-free column expression. Epochs are sequential by nature
    (gradient steps), so wall time is n_iters linear scans — at 100 TB
    you bound n_iters, not the data.
    """
    feats = [F.lit(1).cast("long").alias("x0")] + [
        f.cast("long").alias(f"x{i + 1}") for i, f in enumerate(features)
    ]
    base = df.select(
        F.col(id_col),
        *feats,
        (label.cast("int") * 2 - 1).cast("long").alias("y"),
    )
    dim = len(feats)
    w = [0] * dim
    for _ in range(n_iters):
        margin = sum(F.col(f"x{j}") * F.lit(w[j]) for j in range(dim))
        mis = F.col("y") * margin <= 0
        upd = base.agg(
            *[
                F.sum(F.when(mis, F.col("y") * F.col(f"x{j}")).otherwise(0)).alias(
                    f"d{j}"
                )
                for j in range(dim)
            ]
        ).collect()[0]
        w = [w[j] + (upd[f"d{j}"] or 0) for j in range(dim)]
    margin = sum(F.col(f"x{j}") * F.lit(w[j]) for j in range(dim))
    pred = (margin > 0).cast("int")
    return base.select(
        id_col,
        *[F.lit(w[j]).alias(f"w{j}") for j in range(dim)],
        margin.alias("margin"),
        pred.alias("pred"),
        ((F.col("y") + 1) / 2).cast("int").alias("label"),
        (pred == ((F.col("y") + 1) / 2).cast("int")).cast("int").alias("correct"),
    )


def perceptron_train_score_sql(
    table: str = "events",
    feature_exprs: Sequence[str] = (
        "date_part('hour', ts)::BIGINT",
        "date_part('dow', ts)::BIGINT",
    ),
    label_expr: str = "CAST(event_type = 'purchase' AS INT)",
    id_col: str = "event_id",
    n_iters: int = 3,
) -> str:
    """DuckDB twin of perceptron_train_score: the same epochs unrolled as
    chained CTEs over the same integer sums."""
    dim = len(feature_exprs) + 1
    xs = ", ".join(
        ["1::BIGINT AS x0"]
        + [f"({e}) AS x{i + 1}" for i, e in enumerate(feature_exprs)]
    )
    ctes = [
        f"base AS (SELECT {id_col}, {xs},"
        f" (({label_expr}) * 2 - 1)::BIGINT AS y FROM {table})",
        "w0 AS (SELECT "
        + ", ".join(f"0::BIGINT AS w{j}" for j in range(dim))
        + ")",
    ]
    for t in range(1, n_iters + 1):
        margin = " + ".join(f"b.x{j} * w.w{j}" for j in range(dim))
        sums = ", ".join(
            f"SUM(CASE WHEN b.y * ({margin}) <= 0 THEN b.y * b.x{j}"
            f" ELSE 0 END) AS d{j}"
            for j in range(dim)
        )
        ctes.append(f"u{t} AS (SELECT {sums} FROM base b CROSS JOIN w{t - 1} w)")
        ws = ", ".join(
            f"(w.w{j} + COALESCE(u.d{j}, 0))::BIGINT AS w{j}" for j in range(dim)
        )
        ctes.append(f"w{t} AS (SELECT {ws} FROM w{t - 1} w CROSS JOIN u{t} u)")
    margin = " + ".join(f"b.x{j} * w.w{j}" for j in range(dim))
    wcols = ", ".join(f"w.w{j}" for j in range(dim))
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT b.{id_col}, {wcols},
           ({margin}) AS margin,
           CAST(({margin}) > 0 AS INT) AS pred,
           CAST((b.y + 1) // 2 AS INT) AS label,
           CAST((CAST(({margin}) > 0 AS INT)) = CAST((b.y + 1) // 2 AS INT)
                AS INT) AS correct
    FROM base b CROSS JOIN w{n_iters} w
    """


# --- Naive Bayes language classifier (in-engine train + predict) -------------


def nb_lang_predict(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str = "lang",
    n_buckets: int | None = 4096,
    salt: str = "nb",
) -> DataFrame:
    """Train a multinomial Naive Bayes classifier on the corpus' own
    language labels and predict every document's language in the same
    plan: P(l | doc) ∝ P(l) · Π_f P(f | l) with Laplace smoothing
    P(f|l) = (C(l,f)+1)/(N(l)+V). Returns (doc_id, lang, pred_lang,
    correct) — the standard in-engine sanity check that labels and text
    agree (a broken lang tag shows up as a wrong, confident prediction).

    Features default to the HASHING TRICK (Weinberger et al. 2009):
    f = md5-bucket(token) in a fixed ``n_buckets``-wide space, exactly as
    the DSIR operator next door (operators/sampling.py) buckets its
    unigrams. That bounds the broadcast likelihood table at
    langs × n_buckets rows REGARDLESS of corpus size — raw unigrams made
    it vocabulary-wide, the one unbounded broadcast in the engine (and
    its steepest measured scale exponent). The smoothing denominator uses
    V = n_buckets, the feature-space size, so the model is a constant in
    both corpus and vocabulary. ``n_buckets=None`` restores the raw-vocab
    variant (V = distinct-token count) for small-corpus introspection.

    Determinism: the posterior is a SEQUENTIAL product fold over the
    doc's features sorted by (feature, likelihood) (sort_array / list
    ORDER BY — same multiset, same order, same IEEE multiplies on both
    engines); priors and likelihoods are single divisions of exact
    counts. No log: at gate-corpus doc lengths the product stays in
    double range, and where it underflows it underflows IDENTICALLY on
    both engines (same op sequence). At 100 TB doc lengths you'd
    chunk-rescale or go to log-space and give up bit-equality for a
    tolerance check.

    Plan shape: one token pass builds (lang, feature) counts — a bounded
    table that BROADCASTS back; the doc-token stream fans out ×n_langs
    (the candidate axis), then one (doc, cand) aggregate. Linear in
    corpus × n_langs.
    """
    from .operators.dedup import normalized_text  # noqa: PLC0415
    from .operators.sampling import hash_bucket  # noqa: PLC0415

    toks = df.select(
        F.col(id_col),
        F.col(label_col),
        F.explode(F.split(normalized_text(text_col), " ")).alias("_t"),
    )
    if n_buckets is not None:
        words = toks.select(
            id_col,
            label_col,
            hash_bucket(F.col("_t"), n_buckets, salt).alias("w"),
        )
        vocab_v = F.lit(n_buckets).cast("long")
    else:
        words = toks.withColumnRenamed("_t", "w")
        vocab_v = None
    # ONE tokenize pass: the (doc, lang, feature, multiplicity) table is
    # built first and materialized — (lang, feature) counts and per-lang
    # token totals re-aggregate FROM it by exact integer sums (identical
    # values to counting the raw token stream). Before the cut, words'
    # three consumers (counts/ntot/dbc) each compiled their own
    # scan+explode+hash subtree — the round-11 executed-plan audit
    # measured the corpus tokenize running 3x per query. dbc is
    # doc x distinct-feature sized (≤ n_buckets per doc) — strictly
    # smaller than the token stream it replaces.
    dbc = (
        words.groupBy(id_col, label_col, "w")
        .agg(F.count(F.lit(1)).alias("mult"))
        .transform(lineage_cut)
    )
    counts = dbc.groupBy(label_col, "w").agg(
        F.sum("mult").cast("long").alias("c")
    )
    ntot = dbc.groupBy(label_col).agg(F.sum("mult").cast("long").alias("n"))
    # corpus total as an in-plan broadcast scalar (was a separate df.count()
    # action — one full pass for a value the prior only needs as a divisor;
    # long->double cast equals the old float(ndocs) literal bit-for-bit)
    ndocs = df.agg(F.count(F.lit(1)).alias("_nd"))
    priors = (
        df.groupBy(label_col)
        .agg(F.count(F.lit(1)).alias("_nl"))
        .crossJoin(F.broadcast(ndocs))
        .select(
            label_col,
            (F.col("_nl").cast("double") / F.col("_nd").cast("double")).alias(
                "pr"
            ),
        )
    )
    langs = F.broadcast(df.select(F.col(label_col).alias("cand")).distinct())
    cand_counts = F.broadcast(
        counts.select(F.col(label_col).alias("cand"), "w", "c")
    )
    if vocab_v is not None:
        tot = ntot.select(
            label_col, (F.col("n") + vocab_v).alias("nv")
        )
    else:
        vocab = dbc.agg(F.count_distinct("w").alias("v"))
        tot = ntot.crossJoin(F.broadcast(vocab)).select(
            label_col, (F.col("n") + F.col("v")).alias("nv")
        )
    cand_tot = F.broadcast(
        tot.select(F.col(label_col).alias("cand"), "nv")
    )
    cand_pr = F.broadcast(priors.select(F.col(label_col).alias("cand"), "pr"))
    # The candidate fan-out runs over the SAME compressed (feature,
    # multiplicity) table the model was counted from: shuffled rows are
    # docs × distinct features (≤ n_buckets each) instead of
    # tokens × langs. The posterior stays bit-identical to the per-token
    # fold — the per-token sort order was (feature asc, pw), i.e. each
    # feature's n identical multiplies run consecutively, exactly what
    # the inner sequence-fold replays.
    pairs = (
        dbc.crossJoin(langs)
        .join(cand_counts, ["cand", "w"], "left")
        .join(cand_tot, "cand")
        .withColumn(
            "pw",
            (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double")
            / F.col("nv").cast("double"),
        )
    )
    post = (
        pairs.groupBy(id_col, label_col, "cand")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("w", "mult", "pw"))),
                F.lit(1.0),
                lambda acc, x: F.aggregate(
                    F.sequence(F.lit(1).cast("long"), x["mult"]),
                    acc,
                    lambda a, _: a * x["pw"],
                ),
            ).alias("lik")
        )
        .join(cand_pr, "cand")
        .withColumn("post", F.col("pr") * F.col("lik"))
    )
    from .operators.windows import topk_per_group  # noqa: PLC0415

    best = topk_per_group(
        post,
        [id_col],
        [F.col("post").desc(), F.col("cand").asc()],
        k=1,
        rank_col="_r",
    )
    return best.select(
        id_col,
        label_col,
        F.col("cand").alias("pred_lang"),
        (F.col("cand") == F.col(label_col)).alias("correct"),
    )


def nb_lang_oracle_sql(
    table: str = "documents",
    text_expr: str = "text",
    id_col: str = "doc_id",
    label_col: str = "lang",
    n_buckets: int | None = 4096,
    salt: str = "nb",
) -> str:
    """DuckDB twin of nb_lang_predict (same hashed feature buckets, same
    smoothing, same sorted-feature product fold seeded at 1.0, prior
    applied after the fold)."""
    from .operators.sampling import hash_bucket_sql  # noqa: PLC0415

    norm = f"regexp_replace(lower(trim({text_expr})), '\\s+', ' ', 'g')"
    if n_buckets is not None:
        feat = hash_bucket_sql("t", n_buckets, salt)
        words_cte = f"""words AS (
        SELECT {id_col}, {label_col}, {feat} AS w
        FROM (SELECT {id_col}, {label_col},
                     unnest(string_split({norm}, ' ')) AS t
              FROM {table})
    )"""
        vocab_cte = f"vocab AS (SELECT CAST({n_buckets} AS BIGINT) AS v)"
    else:
        words_cte = f"""words AS (
        SELECT {id_col}, {label_col}, unnest(string_split({norm}, ' ')) AS w
        FROM {table}
    )"""
        vocab_cte = "vocab AS (SELECT COUNT(DISTINCT w) AS v FROM words)"
    return f"""
    WITH {words_cte},
    counts AS (SELECT {label_col} AS cand, w, COUNT(*) AS c
               FROM words GROUP BY {label_col}, w),
    ntot AS (SELECT {label_col} AS cand, COUNT(*) AS n
             FROM words GROUP BY {label_col}),
    {vocab_cte},
    priors AS (
        SELECT {label_col} AS cand,
               COUNT(*)::DOUBLE
               / (SELECT COUNT(*)::DOUBLE FROM {table}) AS pr
        FROM {table} GROUP BY {label_col}
    ),
    langs AS (SELECT DISTINCT {label_col} AS cand FROM {table}),
    pairs AS (
        SELECT wd.{id_col}, wd.{label_col}, lg.cand, wd.w,
               CAST(COALESCE(c.c, 0) + 1 AS DOUBLE)
               / CAST(n.n + v.v AS DOUBLE) AS pw
        FROM words wd
        CROSS JOIN langs lg
        LEFT JOIN counts c ON c.cand = lg.cand AND c.w = wd.w
        JOIN ntot n ON n.cand = lg.cand
        CROSS JOIN vocab v
    ),
    post AS (
        SELECT p.{id_col}, p.{label_col}, p.cand,
               pr.pr * list_reduce(
                   list_prepend(CAST(1 AS DOUBLE), list(pw ORDER BY w, pw)),
                   (a, x) -> a * x) AS post
        FROM pairs p JOIN priors pr ON pr.cand = p.cand
        GROUP BY p.{id_col}, p.{label_col}, p.cand, pr.pr
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY {id_col}
                   ORDER BY post DESC, cand) AS r
        FROM post
    )
    SELECT {id_col}, {label_col}, cand AS pred_lang,
           (cand = {label_col}) AS correct
    FROM ranked WHERE r = 1
    """


# --- PCA top component (power iteration) -------------------------------------
# The engine's iterative linear-algebra primitive alongside PageRank's
# iterative graph primitive: the leading eigenvector of the uncentered
# second-moment matrix C = Σ x·xᵀ by power iteration, computed entirely
# as DataFrame algebra — the direction embedding-quantization error,
# whitening, and drift diagnostics all start from.


def projection_fold_expr(vec_col: str = "_v", w_col: str = "_wa") -> str:
    """The row-local exact projection fold s = x·w as a SQL expression:
    zip_with products cast to DECIMAL(37,12), each fold step cast back to
    DECIMAL(37,12). (37,12)+(37,12) widens to (38,12) with no scale loss,
    so the cast-back is exact — the fold is bit-identical to
    SUM(CAST(x*w AS DECIMAL(38,12))) whenever every product and every
    partial sum stays below 1e25 in magnitude (25 integer digits; the
    previous (30,12) accumulator bound was 1e18, and under ANSI mode a
    breach raised mid-query). NULL elements contribute 0 — identical to
    SUM skipping NULL products. NB: pca_top_component's re-mix
    SUM(CAST(s*x AS DECIMAL(38,12))) binds EARLIER, at |s·x| < 1e26 —
    past it ANSI raises loudly rather than silently dropping rows."""
    return (
        "aggregate("
        f" zip_with({vec_col}, {w_col},"
        " (x, wv) -> CAST(x * wv AS DECIMAL(37,12))),"
        " CAST(0 AS DECIMAL(37,12)),"
        " (acc, p) -> CAST(acc + coalesce(p, CAST(0 AS DECIMAL(37,12)))"
        " AS DECIMAL(37,12)))"
    )


def pca_top_component(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    n_iters: int = 3,
) -> DataFrame:
    """(j, loading, eigenvalue): the leading eigenvector (64 loadings,
    seeded from the unit-norm constant vector, normalized every round) and its
    Rayleigh-quotient estimate ‖C·w‖ after ``n_iters`` rounds.

    Determinism contract: every cross-row sum (per-row projection
    s = x·w, per-dimension re-mix u = Σ s·x, the squared norm) is an
    EXACT decimal sum of deterministic double products — order-independent
    across partitions and bit-identical to the oracle's unrolled CTEs; no
    driver collect anywhere (w travels as a broadcast 1-row array).

    Plan per round — ZERO joins, ZERO corpus shuffles: the vector table
    crossJoins the broadcast 1-row w array; s = x·w is a ROW-LOCAL exact
    decimal fold (zip_with products cast to DECIMAL(37,12), each fold step
    cast back to DECIMAL(37,12) — (37,12)+(37,12) widens to (38,12) with
    no scale loss, so the cast-back is exact and the fold equals the
    SUM(DECIMAL(38,12)) aggregate bit-for-bit as long as |s| stays under
    1e25, i.e. 25 integer digits of headroom — unreachable for a unit-norm
    w against any real embedding table; the naive fold widens
    to scale 11 per add and is NOT exact); the re-mix u = Σ s·x is one
    posexplode + dim-group aggregate whose map-side partials are the only
    bytes crossing an exchange (dim × n_partitions decimal sums). The
    previous long-table shape (per-round id-keyed join + aggregate)
    measured 2.3× slower at sf0.1 and 0.43/decade vs 0.31 here. Vectors
    are sliced to ``dim`` positions so overlong embeddings diverge
    identically on both engines (the oracle generates exactly dim
    positions)."""
    spark = df.sparkSession
    # widen BEFORE the cut: a checkpointed small table keeps its (often
    # AQE-coalesced-to-1) partitioning, so every round's decimal-fold
    # projection ran single-task (3 x ~325 ms measured); the repartition
    # stores the cut wide and the per-round folds run on all cores. The
    # projection/re-mix sums are exact decimals — order-independent, so
    # partitioning cannot change a bit of the result.
    from .operators.similarity import _widen_if_narrow  # noqa: PLC0415

    vecs = (
        df.select(
            F.col(id_col).alias("_id"),
            F.expr(
                f"transform(slice({vec_col}, 1, {dim}), x -> CAST(x AS DOUBLE))"
            ).alias("_v"),
        )
        .transform(_widen_if_narrow)
        .transform(lineage_cut)  # one materialization, reused per round
    )
    seed = 1.0 / math.sqrt(dim)  # unit-norm seed: the round-1 Rayleigh
    # estimate ||C w0|| is only an eigenvalue estimate if ||w0|| = 1
    w_arr = spark.range(1).select(
        F.array_repeat(F.lit(seed).cast("double"), dim).alias("_wa")
    )

    def dsum(col):
        return F.sum(col.cast("decimal(38,12)")).cast("double")

    s_fold = projection_fold_expr()
    w = eig = None
    for _ in range(n_iters):
        st = vecs.crossJoin(F.broadcast(w_arr)).select(
            "_v", F.expr(s_fold).cast("double").alias("_s")
        )
        u = (
            st.select(F.posexplode("_v").alias("j", "_x"), "_s")
            .groupBy("j")
            .agg(dsum(F.col("_x") * F.col("_s")).alias("_u"))
        )
        nrm = F.broadcast(
            u.agg(F.sqrt(dsum(F.col("_u") * F.col("_u"))).alias("_n"))
        )
        w = u.crossJoin(nrm).select(
            "j", (F.col("_u") / F.col("_n")).alias("_w")
        )
        # positional re-assembly through a map: a j absent from u (no
        # vector reaches that position) yields NULL at that slot, which
        # the fold's coalesce treats as 0 — same as the oracle's NULL u
        w_arr = F.broadcast(
            w.agg(
                F.map_from_entries(
                    F.collect_list(F.struct("j", "_w"))
                ).alias("_m")
            ).select(
                F.expr(f"transform(sequence(0, {dim - 1}), i -> _m[i])")
                .alias("_wa")
            )
        )
        eig = nrm
    return w.crossJoin(eig).select(
        "j",
        F.round("_w", 6).alias("loading"),
        F.round("_n", 6).alias("eigenvalue"),
    )


def pca_oracle_sql(
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    n_iters: int = 3,
) -> str:
    """DuckDB twin of pca_top_component: the same unrolled power rounds
    with the same exact-decimal sums of the same double products."""
    parts = [
        f"""rows AS (
        SELECT {id_col} AS id, i - 1 AS j,
               CAST({vec_col}[i] AS DOUBLE) AS x
        FROM {table} CROSS JOIN range(1, {dim + 1}) t(i)
    ),
    w0 AS (SELECT i - 1 AS j, CAST({1.0 / math.sqrt(dim)!r} AS DOUBLE) AS w
           FROM range(1, {dim + 1}) t(i))"""
    ]
    prev = "w0"
    for r in range(1, n_iters + 1):
        parts.append(
            f"""s{r} AS (
        SELECT id, CAST(SUM(CAST(x * w AS DECIMAL(38,12))) AS DOUBLE) AS s
        FROM rows JOIN {prev} USING (j) GROUP BY id
    ),
    u{r} AS (
        SELECT j, CAST(SUM(CAST(x * s AS DECIMAL(38,12))) AS DOUBLE) AS u
        FROM rows JOIN s{r} USING (id) GROUP BY j
    ),
    n{r} AS (
        SELECT sqrt(CAST(SUM(CAST(u * u AS DECIMAL(38,12))) AS DOUBLE)) AS n
        FROM u{r}
    ),
    w{r} AS (SELECT j, u / n AS w FROM u{r} CROSS JOIN n{r})"""
        )
        prev = f"w{r}"
    ctes = ",\n    ".join(parts)
    return f"""
    WITH {ctes}
    SELECT CAST(j AS INT) AS j, ROUND(w, 6) AS loading,
           ROUND(n, 6) AS eigenvalue
    FROM w{n_iters} CROSS JOIN n{n_iters}
    """
