"""Deduplication operators for training-data pipelines (north-star set).

Exact (hash groupBy), n-gram Jaccard, MinHash+LSH, SimHash — each a
distributed Spark plan (explode→shuffle-on-key→agg; no driver loops), each
with an engine-portable formulation (md5-based hashing) so DuckDB can run
the identical computation as the correctness oracle.

Reference grounding: the course dedups by key (drop_duplicates on closeTime,
lecture3/15_binance_backfill_last_month.py:129) and upserts by anti-join
(:186-188); content-level near-dup is the 100 TB training-data extension.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from .materialize import lineage_cut

N_MINHASH = 16  # signature length
N_BANDS = 8  # LSH bands of 2 rows each


def normalized_text(text_col: str = "text") -> Column:
    return F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")


def exact_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup by content hash: md5(normalized text) → canonical id =
    min(id), dup count. One shuffle on the 32-byte digest (never on the
    full text — at 100 TB the texts stay columnar and only digests move)."""
    return (
        df.select(F.col(id_col), F.md5(normalized_text(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def _ngrams_over(ws: Column, n: int) -> Column:
    """Distinct word n-grams from a (bound) words-array column, empty array
    when fewer than n words. 1-based element_at so the SQL twin (DuckDB list
    indexing, also 1-based) is literally the same function."""
    idx = F.when(F.size(ws) >= n, F.sequence(F.lit(1), F.size(ws) - (n - 1))).otherwise(
        F.array().cast("array<int>")
    )
    parts = lambda i: [F.element_at(ws, i + j) for j in range(n)]  # noqa: E731
    grams = F.transform(idx, lambda i: F.concat_ws(" ", *parts(i)))
    return F.array_distinct(grams)


def ngram_sets(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(id, grams) per doc. Two-step select on purpose: binding the split to
    a named column keeps it in its own Project — inlining it would
    re-evaluate the regex split inside every element_at of the transform
    (measured 20x slower)."""
    words = df.select(
        F.col(id_col), F.split(normalized_text(text_col), " ").alias("_ws")
    )
    return words.select(F.col(id_col), _ngrams_over(F.col("_ws"), n).alias("grams"))


def jaccard(a: Column, b: Column) -> Column:
    """Jaccard over distinct-element arrays: |A∩B| / (|A|+|B|−|A∩B|)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = (F.size(a) + F.size(b)).cast("double") - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def ngram_jaccard_pairs(
    df: DataFrame,
    block_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Blocked exact n-gram Jaccard pairs ≥ threshold, id_a < id_b.

    Distributed shape is the INVERTED-INDEX join: distinct (doc, gram) rows
    self-join on (block, gram), one count per pair that actually shares a
    gram, then |A∩B| / (|A|+|B|−|A∩B|) from the shared count and two set
    sizes. Pairs sharing nothing never materialize and no gram array
    crosses a pair — the pairwise array_intersect formulation is quadratic
    in block size (measured 25x slower at sf0.1) and cannot survive a
    100x corpus. Blocking still bounds the candidate key space; unblocked
    near-dup at scale goes through minhash_lsh_pairs below."""
    from pyspark.sql import Window  # noqa: PLC0415

    # Per-doc gram-set size rides the gram rows via one window over the
    # already-distinct table instead of a third consumption of the whole
    # tokenize→distinct subtree (the old separate groupBy(id) aggregate +
    # two size joins after the pair count: one extra full tokenize pass
    # and two extra joins for values the gram rows can carry themselves;
    # same integer counts → bit-identical jaccard).
    grams = (
        gram_rows(df, text_col, id_col, n)
        .select(F.col(id_col), "gram")
        .distinct()
        .join(df.select(id_col, block_col), id_col)
        .withColumn(
            "n_grams", F.count(F.lit(1)).over(Window.partitionBy(id_col))
        )
    )
    a = grams.select(
        F.col(block_col).alias("_blk"), F.col(id_col).alias("id_a"),
        "gram", F.col("n_grams").alias("size_a"),
    )
    b = grams.select(
        F.col(block_col).alias("_blk"), F.col(id_col).alias("id_b"),
        "gram", F.col("n_grams").alias("size_b"),
    )
    shared = (
        a.join(b, ["_blk", "gram"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            # constant within the (id_a, id_b) group — carried, not joined
            F.first("size_a").alias("size_a"),
            F.first("size_b").alias("size_b"),
        )
    )
    inter = F.col("n_shared").cast("double")
    union = (F.col("size_a") + F.col("size_b")).cast("double") - inter
    return (
        shared.withColumn("jac", inter / union)
        .filter(F.col("jac") >= threshold)
        .select("id_a", "id_b", F.round("jac", 6).alias("jac"))
    )


# Affine minhash family h_i(x) = (a_i*x + b_i) mod P over a 32-bit base
# hash x — ONE md5 per shingle feeds all 16 signature rows (the classic
# universal-hashing construction; 16 independent md5s measured ~2.5x slower).
# P = smallest prime > 2^32; a_i < 2^30 keeps a*x < 2^62 (no ANSI overflow).
MINHASH_PRIME = 4_294_967_311
MINHASH_COEFFS = [
    (314159261, 271828183), (161803399, 141421357), (173205081, 223606797),
    (244948975, 264575131), (282842713, 316227767), (331662479, 346410162),
    (360555127, 374165739), (387298335, 399999999), (412310563, 424264069),
    (435889895, 447213595), (458257569, 469041576), (479583152, 489897949),
    (499999999, 509901951), (519615242, 529150262), (538516481, 547722557),
    (556776436, 565685425),
]


def _base_hash32(gram_col: str = "gram") -> Column:
    """First 32 bits of md5(shingle) as a nonnegative long (engine-portable:
    both sides decode the same 8 hex chars)."""
    return F.conv(F.substring(F.md5(F.col(gram_col)), 1, 8), 16, 10).cast("long")


def _ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier: a column name with a
    space, a dot or a backtick interpolates into SQL text as that one
    column, never as a parse error or a struct-field path."""
    return "`" + name.replace("`", "``") + "`"


def _minhash_cols(x_col: str = "gx") -> list[Column]:
    """The 16 affine-min aggregate columns, parsed from SQL strings (r14,
    the r13 simhash technique): the Column-by-Column form cost ~100 py4j
    round trips per call — material because minhash_band_rows runs once
    per STREAMING MICRO-BATCH (measured: construction is ~half the
    near-dup batch wall). One F.expr per aggregate builds the identical
    Catalyst tree (int literals < 2^31 parse as INT exactly like F.lit;
    the prime > 2^31 parses as BIGINT; promotions match — pinned by
    tests/test_round14_opt.py::test_minhash_sql_exprs_match_column_form)."""
    x = _ident(x_col)
    return [
        F.expr(f"min(({a} * {x} + {b}) % {MINHASH_PRIME}) AS h{i}")
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    ]


def gram_rows(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """One row per (doc, shingle position): posexplode words, then n-grams
    via window lead — linear work per word (exploding a nested-array
    transform re-inlines the split into the generator and goes quadratic
    per doc; measured 15x slower). One shuffle on id.

    Built from SQL strings (r14): three selectExpr calls instead of ~80
    py4j round trips of Window/lead/alias Column plumbing — gram_rows is
    on the construction path of every shingle-based operator including
    the per-micro-batch streaming bodies. Trees are identical to the old
    Column form (pinned by test_round14_opt)."""
    ident = _ident(id_col)
    norm = f"regexp_replace(lower(trim({_ident(text_col)})), '\\\\s+', ' ')"
    words = df.selectExpr(
        ident, f"posexplode(split({norm}, ' ')) AS (pos, w)"
    )
    parts = ["w AS _p0"] + [
        f"lead(w, {j}) OVER (PARTITION BY {ident} ORDER BY pos) AS _p{j}"
        for j in range(1, n)
    ]
    grams = words.selectExpr(ident, *parts).filter(f"_p{n - 1} IS NOT NULL")
    gram = "concat_ws(' ', " + ", ".join(f"_p{j}" for j in range(n)) + ")"
    return grams.selectExpr(ident, f"{gram} AS gram")


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """MinHash signature per doc: shingle rows → base hash (materialized
    below the agg so md5+conv run once per shingle) → groupBy doc → 16
    affine mins. Duplicate shingles don't affect a min, so no distinct."""
    gx = gram_rows(df, text_col, id_col, n).select(
        F.col(id_col), _base_hash32("gram").alias("gx")
    )
    return gx.groupBy(id_col).agg(*_minhash_cols("gx"))


def minhash_band_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """(id, band, bhash) rows — each doc's 8 LSH band hashes (bands of 2
    signature rows, md5-combined). The shared candidate-key structure for
    pair generation (minhash_lsh_pairs) and the persisted band index of
    incremental/streaming near-dup."""
    sigs = minhash_signatures(df, text_col, id_col, n)
    # SQL-string construction (r14): the band md5s and the explode of 8
    # (band, bhash) structs as two selectExpr calls — identical Catalyst
    # trees to the old Column-by-Column form (~80 py4j round trips
    # saved per call; this runs per streaming micro-batch). CAST AS
    # STRING matches Column.cast("string"); the int band literals match
    # F.lit(int).
    band_exprs = [
        f"md5(concat_ws('|', CAST(h{2 * b} AS STRING),"
        f" CAST(h{2 * b + 1} AS STRING))) AS b{b}"
        for b in range(N_BANDS)
    ]
    banded = sigs.selectExpr(id_col, *band_exprs)
    structs = ", ".join(
        f"struct({b} AS band, b{b} AS bhash)" for b in range(N_BANDS)
    )
    return banded.selectExpr(
        id_col, f"explode(array({structs})) AS bb"
    ).select(id_col, "bb.band", "bb.bhash")


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash + LSH near-dup candidates, verified by exact Jaccard.

    Bands of 2 signature rows → band hash; docs sharing any band hash are
    candidates (explode by band → shuffle on (band, hash) → pairs within
    bucket); candidates verified with exact shingle Jaccard ≥ threshold.
    This is the scale path: pair generation is local to each LSH bucket, so
    cost tracks true-duplicate density, not n².
    """
    melted = minhash_band_rows(df, text_col, id_col, n)
    a = melted.select(F.col(id_col).alias("id_a"), "band", "bhash")
    b = melted.select(F.col(id_col).alias("id_b"), "band", "bhash")
    cands = (
        a.join(b, ["band", "bhash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # Verify-side gram sets are built for the whole corpus in ONE linear
    # pass and joined to the (small) candidate set. The tempting
    # alternative — semi-joining df down to candidate ids first — re-executes
    # the entire signature+banding chain a second time to produce those ids
    # (measured 1.6x slower end-to-end); one extra linear collect_set pass
    # is the cheaper trade at any scale, and it shuffles gram sets only
    # into the candidate join.
    grams = ngram_sets(df, text_col, id_col, n)
    ga = grams.select(F.col(id_col).alias("id_a"), F.col("grams").alias("grams_a"))
    gb = grams.select(F.col(id_col).alias("id_b"), F.col("grams").alias("grams_b"))
    verified = cands.join(ga, "id_a").join(gb, "id_b")
    jac = jaccard(F.col("grams_a"), F.col("grams_b"))
    return (
        verified.select("id_a", "id_b", F.round(jac, 6).alias("jac"))
        .filter(F.col("jac") >= threshold)
    )


def near_dup_survivors(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Greedy survivor set from near-dup pairs: a doc is removed iff it
    appears as the larger id of any pair (keep-lowest-id policy, one pass).
    The anti-join form of the reference's ``~isin`` upsert filter."""
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


# Label-propagation rounds dedup_clusters runs before it gives up
# (pointer doubling converges in O(log diameter) rounds).
CC_MAX_ROUNDS = 20


def dedup_clusters(
    pairs: DataFrame,
    id_col_a: str = "id_a",
    id_col_b: str = "id_b",
) -> DataFrame:
    """Connected components over the near-dup pair graph → (doc_id,
    canonical_id), canonical = min id in the component.

    Iterative min-label propagation with POINTER DOUBLING: each round every
    node adopts the min label among itself and its neighbors, then
    compresses one hop through the label table (label := label(label)) —
    the classic pointer-jumping step that turns O(diameter) convergence
    into O(log diameter). On a chain-shaped component of 1000 nodes that is
    ~10 rounds instead of ~1000; each round is two joins + one aggregation,
    the standard large-graph pattern when a true graph engine isn't
    warranted. Raises RuntimeError if the labels have not reached their
    fixpoint after ``CC_MAX_ROUNDS`` rounds — unconverged labels would
    split components silently.
    """
    edges = (
        # Both directions from ONE scan: the old
        # pairs.unionByName(pairs.swapped) consumed the caller's whole
        # pair-generation plan twice before the checkpoint could cut it
        # (measured: the PassJoin candidate join's partitions each read
        # twice inside one fat stage — 6.6s max task at sf1.0*, 2x the
        # balanced stage). The explode emits (a,b) and (b,a) per pair in
        # a single pass.
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(id_col_a).alias("a"), F.col(id_col_b).alias("b")
                    ),
                    F.struct(
                        F.col(id_col_b).alias("a"), F.col(id_col_a).alias("b")
                    ),
                )
            ).alias("_e")
        )
        .select("_e.a", "_e.b")
        .distinct()
        # Materialize ONCE: every round joins against edges, and without a
        # cut each round re-executes the caller's whole pair-generation
        # plan (for semantic/minhash pairs that is the expensive part —
        # measured 3x the total wall at sf0.1). The edge list is the
        # (id, id) pair table a production run would persist anyway.
        .transform(lineage_cut)
    )
    # Lazy cut: the fixpoint probe right below materializes the label table
    # and computes its sum in the SAME job — an eager cut here would run a
    # separate full pass first (2 jobs per table where 1 suffices; the same
    # fusion is applied to every round's cut+probe pair in the loop).
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .transform(lambda d: lineage_cut(d, eager=False))
    )
    # Identity edges (node, node) folded into the adjacency let each round
    # compute min(self ∪ neighbors) with ONE join+aggregate — the separate
    # "least(own label, neighbor min)" left-join the loop used to run is a
    # full label-table shuffle per round that the union makes redundant.
    # No cut on adj: both inputs are already materialized cuts, and the
    # union of two checkpointed RDDs is a zero-compute narrow op — an
    # eager cut here was one more full-table job that bought nothing.
    adj = edges.unionByName(
        labels.select(F.col("node").alias("a"), F.col("node").alias("b"))
    )

    # Fixpoint probe: labels only ever DECREASE (least of self and
    # neighbors), so the exact sum of labels is strictly monotone until
    # convergence — sum unchanged ⟺ no label changed. One decimal-exact
    # aggregate per round (decimal(38,0): no long overflow at any node
    # count) instead of the old join+filter+limit probe, which cost a
    # full label-table shuffle join every round.
    def _label_sum(frame: DataFrame):
        return frame.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))
        ).collect()[0][0]

    prev_sum = _label_sum(labels)
    for _ in range(CC_MAX_ROUNDS):
        new_labels = (
            adj.join(labels, adj.b == labels.node)
            .groupBy("a")
            .agg(F.min("label").alias("label"))
            .withColumnRenamed("a", "node")
        )
        # pointer doubling: follow the label one hop (label of my label) so
        # long chains collapse exponentially instead of one hop per round
        lab2 = new_labels.select(
            F.col("node").alias("_ln"), F.col("label").alias("_ll")
        )
        new_labels = (
            new_labels.join(lab2, new_labels.label == lab2._ln, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("_ll"), F.col("label"))
                ).alias("label"),
            )
        )
        # LAZY checkpoint fused with the fixpoint probe: the probe's job
        # materializes the round's plan (two joins + agg) into checkpoint
        # blocks AND computes the label sum in one pass — the eager-cut +
        # separate-probe sequence this replaces ran two full jobs per
        # round for the same result (the round plan still executes
        # exactly once; the next round reads the materialized labels).
        new_labels = new_labels.transform(
            lambda d: lineage_cut(d, eager=False)
        )
        new_sum = _label_sum(new_labels)
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    else:
        raise RuntimeError(
            f"dedup_clusters: labels still changing after {CC_MAX_ROUNDS}"
            " rounds; the components are not converged"
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("canonical_id")
    )


# --- Winnowing (rolling-hash fingerprints) -----------------------------------
# MOSS-style local fingerprinting: word-level rolling hash over k-grams, then
# the min hash of every window of w consecutive k-gram hashes. Guarantees any
# shared run of >= k+w-1 words between two docs shares a fingerprint, at
# ~1/w the storage of full shingling.

WINNOW_C = 1_000_003  # rolling-hash radix (prime)
# winnow modulus: Mersenne prime < 2^31 so radix_weight * hash < 2^62
# (ANSI-safe long arithmetic in both engines)
WINNOW_P = 2_147_483_647


def winnowed_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Distinct winnowed fingerprints per doc → (id, fingerprint) rows.

    Shape: posexplode words → 32-bit base hash per word → k-gram rolling
    hash via window leads (radix combine mod P) → min over each w-window
    (rows-between frame) → distinct. Two window passes over the same
    (doc, pos) partitioning, so Spark sorts each doc's words once and
    reuses the shuffle. All JVM-side integer ops."""
    from pyspark.sql import Window

    words = df.select(
        F.col(id_col),
        F.posexplode(F.split(normalized_text(text_col), " ")).alias("pos", "w"),
    ).select(
        F.col(id_col),
        "pos",
        F.conv(F.substring(F.md5(F.col("w")), 1, 8), 16, 10)
        .cast("long")
        .alias("h"),
    )
    ord_w = Window.partitionBy(id_col).orderBy("pos")
    # rolling k-gram hash: sum_{j<k} C^(k-1-j) * h_{i+j} mod P — radix
    # weights keep it order-sensitive, mod keeps products < 2^62 (ANSI-safe)
    parts = []
    for j in range(k):
        hj = F.col("h") if j == 0 else F.lead("h", j).over(ord_w)
        weight = pow(WINNOW_C, k - 1 - j, WINNOW_P)
        parts.append((F.lit(weight) * (hj % F.lit(WINNOW_P))) % F.lit(WINNOW_P))
    rh = parts[0]
    for p in parts[1:]:
        rh = (rh + p) % F.lit(WINNOW_P)
    # null lead (tail of doc) nulls the whole rolling hash → dropping nulls
    # keeps exactly the positions where a full k-gram exists
    grams = words.select(F.col(id_col), "pos", rh.alias("rh")).filter(
        F.col("rh").isNotNull()
    )
    win = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    fps = grams.select(
        F.col(id_col),
        "pos",
        F.min("rh").over(win).alias("fingerprint"),
        F.count("rh").over(win).alias("_n"),
    ).filter(F.col("_n") == w)
    return fps.select(id_col, "fingerprint").distinct()


def winnowed_oracle_sql(
    table: str = "documents",
    text_expr: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
) -> str:
    """Generated SQL twin of winnowed_fingerprints for the DuckDB oracle."""
    norm = f"regexp_replace(lower(trim({text_expr})), '\\s+', ' ', 'g')"
    gx = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(w), {j + 1}, 1)) - 1) * {16 ** (7 - j)}"
        for j in range(8)
    )
    rh_parts = " + ".join(
        f"({pow(WINNOW_C, k - 1 - j, WINNOW_P)} * (h{j} % {WINNOW_P})) % {WINNOW_P}"
        for j in range(k)
    )
    lead_cols = ", ".join(
        f"lead(h, {j}) OVER (PARTITION BY {id_col} ORDER BY pos) AS h{j}"
        if j
        else "h AS h0"
        for j in range(k)
    )
    return f"""
    WITH words AS (
        SELECT {id_col}, i - 1 AS pos, ws[i] AS w
        FROM (SELECT {id_col}, string_split({norm}, ' ') AS ws FROM {table}),
             LATERAL unnest(range(1, len(ws) + 1)) AS t(i)),
    hashed AS (
        SELECT {id_col}, pos, ({gx})::BIGINT AS h FROM words),
    led AS (
        SELECT {id_col}, pos, {lead_cols} FROM hashed),
    grams AS (
        SELECT {id_col}, pos, ({rh_parts}) % {WINNOW_P} AS rh
        FROM led WHERE h{k - 1} IS NOT NULL),
    winnowed AS (
        SELECT {id_col}, pos,
               MIN(rh) OVER (PARTITION BY {id_col} ORDER BY pos
                             ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS fingerprint,
               COUNT(rh) OVER (PARTITION BY {id_col} ORDER BY pos
                               ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS _n
        FROM grams)
    SELECT DISTINCT {id_col}, fingerprint FROM winnowed WHERE _n = {w}
    """


# --- SimHash -----------------------------------------------------------------
# 64-bit simhash from word-level md5s: bit b of the hash of each word votes
# ±1; the sign of each bit-sum forms the fingerprint. Engine-portable: bit b
# of a word's md5 is derived from hex-digit arithmetic available in both
# engines. We use 16 hex digits (64 bits) of md5.

SIMHASH_BITS = 64


def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """SimHash fingerprint as a 16-hex-char string (bit i = sign of the
    vote sum for bit i across word hashes).

    Distributed shape: explode words → per-word md5 → 64 conditional sums in
    ONE hash aggregate → reassemble hex string. No Python UDFs.
    """
    # The first 16 md5 hex chars are decoded ONCE per word into two 32-bit
    # ints (conv base16→10) below the aggregate; the 64 vote sums are then
    # pure integer shift/mask ops in whole-stage codegen instead of 64
    # substring+strpos string extractions per word row.
    words = (
        df.select(
            F.col(id_col),
            F.explode(
                F.array_distinct(F.split(normalized_text(text_col), " "))
            ).alias("w"),
        )
        .select(F.col(id_col), F.md5(F.col("w")).alias("h"))
        .select(
            F.col(id_col),
            F.conv(F.substring("h", 1, 8), 16, 10).cast("long").alias("hi"),
            F.conv(F.substring("h", 9, 8), 16, 10).cast("long").alias("lo"),
        )
    )
    # Bit i's vote count comes from hex digit i//4 (0 = most significant;
    # digits 0-7 live in hi, 8-15 in lo). Instead of 64 separate SUMs, the
    # one-bits of 3 consecutive positions are packed into 21-bit lanes of a
    # single long before aggregation — 22 lane sums + 1 count replace 64
    # conditional sums (measured ~25% off the whole aggregate). A lane
    # holds a per-doc one-count, so it saturates only past 2^21 distinct
    # words in ONE document — far beyond any real document. The ±1 vote
    # sign is recovered as ones*2 > n.
    # The vote/digit expressions are GENERATED AS SQL STRINGS and parsed by
    # one F.expr call each: the Column-by-Column construction this replaces
    # issued ~800 py4j round trips (~1.7 s of driver wall per call at any
    # data size — measured; the parsed trees are the same Catalyst
    # expressions, so the plan and the results are bit-identical).
    def _bit(i: int) -> str:
        d, k = divmod(i, 4)
        half = "hi" if d < 8 else "lo"
        digit = f"(shiftright({half}, {4 * (7 - d % 8)}) & 15)"
        return f"(shiftright({digit}, {3 - k}) & 1)"

    sums = [F.count(F.lit(1)).alias("n")]
    for g in range(22):
        terms = []
        for lane in range(3):
            i = 3 * g + lane
            if i >= SIMHASH_BITS:
                break
            terms.append(
                _bit(i) if lane == 0 else f"shiftleft({_bit(i)}, {21 * lane})"
            )
        sums.append(F.expr(f"sum({' + '.join(terms)})").alias(f"g{g}"))
    votes = words.groupBy(id_col).agg(*sums)

    def _ones(i: int) -> str:
        g, lane = divmod(i, 3)
        return f"(shiftright(g{g}, {21 * lane}) & {(1 << 21) - 1})"

    # reassemble: hex digit d = sum over k of (ones_{4d+k}*2 > n) << (3-k)
    digits = []
    for d in range(16):
        val = " + ".join(
            f"(CASE WHEN ({_ones(4 * d + k)} * 2) > n "
            f"THEN {1 << (3 - k)} ELSE 0 END)"
            for k in range(4)
        )
        digits.append(
            f"substring('0123456789abcdef', ({val}) + 1, 1)"
        )
    return votes.select(
        F.col(id_col), F.expr(f"concat({', '.join(digits)})").alias("simhash")
    )


def simhash_oracle_sql(table: str = "documents", text_expr: str = "text", id_col: str = "doc_id") -> str:
    """Generated SQL twin of simhash64 for the DuckDB oracle."""
    norm = f"regexp_replace(lower(trim({text_expr})), '\\s+', ' ', 'g')"
    sums, digits = [], []
    for d in range(16):
        digit = f"(strpos('0123456789abcdef', substr(md5(w), {d + 1}, 1)) - 1)"
        for k in range(4):
            i = 4 * d + k
            bit = f"(({digit} >> {3 - k}) & 1)"
            sums.append(f"SUM(CASE WHEN {bit} = 1 THEN 1 ELSE -1 END) AS s{i}")
    for d in range(16):
        parts = " + ".join(
            f"(CASE WHEN s{4 * d + k} > 0 THEN {1 << (3 - k)} ELSE 0 END)"
            for k in range(4)
        )
        digits.append(f"substr('0123456789abcdef', ({parts}) + 1, 1)")
    return f"""
    WITH words AS (
        SELECT {id_col}, unnest(list_distinct(string_split({norm}, ' '))) AS w
        FROM {table}
    ),
    votes AS (
        SELECT {id_col}, {', '.join(sums)} FROM words GROUP BY {id_col}
    )
    SELECT {id_col}, {' || '.join(digits)} AS simhash FROM votes
    """


def minhash_oracle_sql(
    table: str = "documents",
    text_expr: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> str:
    """Generated SQL twin of minhash_lsh_pairs for the DuckDB oracle."""
    norm = f"regexp_replace(lower(trim({text_expr})), '\\s+', ' ', 'g')"
    gram_parts = " || ' ' || ".join(f"ws[i + {j}]" for j in range(n))
    # base hash: first 8 md5 hex chars decoded to a 32-bit int (same value
    # the Spark side gets from conv(substr(md5,1,8),16,10))
    gx = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(g), {j + 1}, 1)) - 1) * {16 ** (7 - j)}"
        for j in range(8)
    )
    mins = ", ".join(
        f"MIN(({a} * gx + {b}) % {MINHASH_PRIME}) AS h{i}"
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    )
    bands = ", ".join(
        f"md5(h{2 * b}::VARCHAR || '|' || h{2 * b + 1}::VARCHAR) AS b{b}"
        for b in range(N_BANDS)
    )
    band_union = " UNION ALL ".join(
        f"SELECT {id_col}, {b} AS band, b{b} AS bhash FROM bands"
        for b in range(N_BANDS)
    )
    return f"""
    WITH words AS (
        SELECT {id_col}, string_split({norm}, ' ') AS ws FROM {table}
    ),
    grams AS (
        SELECT {id_col},
               unnest(CASE WHEN len(ws) >= {n}
                      THEN range(1, len(ws) - {n - 2})
                      ELSE [] END) AS i, ws
        FROM words
    ),
    gram_rows AS (
        SELECT DISTINCT {id_col}, {gram_parts} AS g FROM grams
    ),
    gxs AS (
        SELECT {id_col}, ({gx})::BIGINT AS gx FROM gram_rows
    ),
    sigs AS (
        SELECT {id_col}, {mins} FROM gxs GROUP BY {id_col}
    ),
    bands AS (
        SELECT {id_col}, {bands} FROM sigs
    ),
    melted AS ({band_union}),
    cands AS (
        SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b
        FROM melted a JOIN melted b
          ON a.band = b.band AND a.bhash = b.bhash AND a.{id_col} < b.{id_col}
    ),
    gsets AS (
        SELECT {id_col}, list_distinct(list(g)) AS grams FROM gram_rows GROUP BY {id_col}
    )
    SELECT id_a, id_b,
           ROUND(len(list_intersect(ga.grams, gb.grams))::DOUBLE
                 / (len(ga.grams) + len(gb.grams)
                    - len(list_intersect(ga.grams, gb.grams))), 6) AS jac
    FROM cands
    JOIN gsets ga ON ga.{id_col} = id_a
    JOIN gsets gb ON gb.{id_col} = id_b
    WHERE len(list_intersect(ga.grams, gb.grams))::DOUBLE
          / (len(ga.grams) + len(gb.grams)
             - len(list_intersect(ga.grams, gb.grams))) >= {threshold}
    """


def minhash_estimate_error(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """MinHash approximation-quality profile: for every LSH candidate pair,
    the 16-hash agreement fraction (the MinHash Jaccard ESTIMATE) next to
    the exact shingle Jaccard and their absolute error — the measurement
    that justifies trusting banded MinHash at corpus scale (Broder 1997:
    E[agreement] = J; with 16 hashes, sd ≈ sqrt(J(1-J)/16)).

    Distributed shape: the signature table materializes once (lineage cut)
    and feeds BOTH the band self-join and the per-pair agreement count, so
    the corpus is shingled exactly once; exact Jaccard joins gram sets onto
    the (small) candidate set only. Estimates are k/16 (exact binary
    fractions), so the error column is bit-stable across engines.
    """
    sigs = minhash_signatures(df, text_col, id_col, n).transform(lineage_cut)
    band_cols = [
        F.md5(
            F.concat_ws(
                "|",
                F.col(f"h{2 * b}").cast("string"),
                F.col(f"h{2 * b + 1}").cast("string"),
            )
        ).alias(f"b{b}")
        for b in range(N_BANDS)
    ]
    melted = (
        sigs.select(id_col, *band_cols)
        .select(
            id_col,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"), F.col(f"b{b}").alias("bhash")
                        )
                        for b in range(N_BANDS)
                    ]
                )
            ).alias("bb"),
        )
        .select(id_col, "bb.band", "bb.bhash")
    )
    cands = (
        melted.select(F.col(id_col).alias("id_a"), "band", "bhash")
        .join(
            melted.select(F.col(id_col).alias("id_b"), "band", "bhash"),
            ["band", "bhash"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sa = sigs.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(N_MINHASH)],
    )
    sb = sigs.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(N_MINHASH)],
    )
    agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(N_MINHASH)
    )
    grams = ngram_sets(df, text_col, id_col, n)
    ga = grams.select(F.col(id_col).alias("id_a"), F.col("grams").alias("ga"))
    gb = grams.select(F.col(id_col).alias("id_b"), F.col("grams").alias("gb"))
    est = agree.cast("double") / F.lit(float(N_MINHASH))
    exact = jaccard(F.col("ga"), F.col("gb"))
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .join(ga, "id_a")
        .join(gb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(est, 6).alias("est_jac"),
            F.round(exact, 6).alias("exact_jac"),
            F.round(F.abs(est - exact), 6).alias("abs_err"),
        )
    )


def minhash_estimate_error_oracle_sql(
    table: str = "documents",
    text_expr: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> str:
    """DuckDB twin of minhash_estimate_error (same md5/affine minhash
    pipeline as minhash_oracle_sql, agreement count over the 16 hashes)."""
    norm = f"regexp_replace(lower(trim({text_expr})), '\\s+', ' ', 'g')"
    gram_parts = " || ' ' || ".join(f"ws[i + {j}]" for j in range(n))
    gx = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(g), {j + 1}, 1)) - 1) * {16 ** (7 - j)}"
        for j in range(8)
    )
    mins = ", ".join(
        f"MIN(({a} * gx + {b}) % {MINHASH_PRIME}) AS h{i}"
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    )
    bands = ", ".join(
        f"md5(h{2 * b}::VARCHAR || '|' || h{2 * b + 1}::VARCHAR) AS b{b}"
        for b in range(N_BANDS)
    )
    band_union = " UNION ALL ".join(
        f"SELECT {id_col}, {b} AS band, b{b} AS bhash FROM bands"
        for b in range(N_BANDS)
    )
    agree = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END"
        for i in range(N_MINHASH)
    )
    exact = (
        "len(list_intersect(ga.grams, gb.grams))::DOUBLE"
        " / (len(ga.grams) + len(gb.grams)"
        " - len(list_intersect(ga.grams, gb.grams)))"
    )
    return f"""
    WITH words AS (
        SELECT {id_col}, string_split({norm}, ' ') AS ws FROM {table}
    ),
    grams AS (
        SELECT {id_col},
               unnest(CASE WHEN len(ws) >= {n}
                      THEN range(1, len(ws) - {n - 2})
                      ELSE [] END) AS i, ws
        FROM words
    ),
    gram_rows AS (
        SELECT DISTINCT {id_col}, {gram_parts} AS g FROM grams
    ),
    gxs AS (
        SELECT {id_col}, ({gx})::BIGINT AS gx FROM gram_rows
    ),
    sigs AS (
        SELECT {id_col}, {mins} FROM gxs GROUP BY {id_col}
    ),
    bands AS (
        SELECT {id_col}, {bands} FROM sigs
    ),
    melted AS ({band_union}),
    cands AS (
        SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b
        FROM melted a JOIN melted b
          ON a.band = b.band AND a.bhash = b.bhash AND a.{id_col} < b.{id_col}
    ),
    gsets AS (
        SELECT {id_col}, list_distinct(list(g)) AS grams FROM gram_rows GROUP BY {id_col}
    )
    SELECT id_a, id_b,
           ROUND(({agree}) / 16.0, 6) AS est_jac,
           ROUND({exact}, 6) AS exact_jac,
           ROUND(ABS(({agree}) / 16.0 - {exact}), 6) AS abs_err
    FROM cands
    JOIN sigs sa ON sa.{id_col} = id_a
    JOIN sigs sb ON sb.{id_col} = id_b
    JOIN gsets ga ON ga.{id_col} = id_a
    JOIN gsets gb ON gb.{id_col} = id_b
    """


# --- Benchmark decontamination ----------------------------------------------

def contamination_hits(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Test-set decontamination: per corpus doc, the number of distinct word
    n-grams it shares with ANY benchmark document → (doc_id,
    n_shared_grams), only docs with at least one hit.

    The LLM-training guard against benchmark leakage (an eval question
    appearing verbatim in training data inflates scores). Distributed shape:
    the benchmark's distinct gram hashes — small by nature, an eval suite
    not a corpus — are broadcast; corpus gram rows stream past them
    partition-locally, and only the matching rows shuffle into the per-doc
    distinct count. Grams travel as md5 digests so the broadcast and the
    shuffle never carry n-word strings. At 100 TB this is one corpus scan,
    no corpus-sized shuffle.

    Production uses n in 8–13; the fixture corpus draws ~54-word docs from
    a tiny vocabulary, so the registered query uses n=3 to exercise the
    match path. Reference grounding: the course dedups rows by key only
    (lecture3/15_binance_backfill_last_month.py:129); cross-set n-gram
    containment is the 100 TB training-data extension.
    """
    bench_grams = (
        gram_rows(benchmark, text_col, id_col, n)
        .select(F.md5(F.col("gram")).alias("gh"))
        .distinct()
    )
    corpus_grams = gram_rows(corpus, text_col, id_col, n).select(
        F.col(id_col), F.md5(F.col("gram")).alias("gh")
    )
    return (
        corpus_grams.join(F.broadcast(bench_grams), "gh")
        .groupBy(id_col)
        .agg(F.count_distinct("gh").alias("n_shared_grams"))
    )


def contamination_oracle_sql(
    corpus_pred: str,
    benchmark_pred: str,
    table: str = "documents",
    text_expr: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> str:
    """DuckDB twin of contamination_hits; corpus/benchmark are predicates
    over the same documents table (as the registered query splits them)."""
    norm = f"regexp_replace(lower(trim({text_expr})), '\\s+', ' ', 'g')"
    gram_parts = " || ' ' || ".join(f"ws[i + {j}]" for j in range(n))
    return f"""
    WITH words AS (
        SELECT {id_col}, string_split({norm}, ' ') AS ws, {corpus_pred} AS in_corpus,
               {benchmark_pred} AS in_bench
        FROM {table}
    ),
    grams AS (
        SELECT {id_col}, in_corpus, in_bench,
               unnest(CASE WHEN len(ws) >= {n}
                      THEN range(1, len(ws) - {n - 2})
                      ELSE [] END) AS i, ws
        FROM words
    ),
    gram_rows AS (
        SELECT {id_col}, in_corpus, in_bench, md5({gram_parts}) AS gh FROM grams
    ),
    bench AS (SELECT DISTINCT gh FROM gram_rows WHERE in_bench)
    SELECT g.{id_col}, COUNT(DISTINCT g.gh) AS n_shared_grams
    FROM gram_rows g JOIN bench b ON g.gh = b.gh
    WHERE g.in_corpus
    GROUP BY g.{id_col}
    """


# --- Incremental dedup against a persisted index ------------------------------

def incremental_dedup(
    incoming: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-dedup an incoming batch against an existing corpus index:
    survivors are incoming docs whose normalized-content hash (a) is the
    batch's first occurrence (min id wins, same policy as
    exact_dedup_groups) and (b) does not appear in the index. Returns
    (doc_id, content_hash).

    The production ingest pattern at 100 TB: the index is a persisted
    content-hash table maintained across runs (here derived from a
    DataFrame); each new batch shuffles 32-byte digests only — in-batch
    groupBy, then left_anti against the index — never text, and never
    rescans the historical corpus' text column when the hash table is
    materialized. Reference grounding: the course's anti-join upsert
    (lecture3/15_binance_backfill_last_month.py:186-188) keyed on content
    instead of time."""
    inc = incoming.select(
        F.col(id_col), F.md5(normalized_text(text_col)).alias("content_hash")
    )
    idx = index.select(F.md5(normalized_text(text_col)).alias("content_hash")).distinct()
    firsts = inc.groupBy("content_hash").agg(F.min(id_col).alias(id_col))
    return firsts.join(idx, "content_hash", "left_anti").select(id_col, "content_hash")


def boilerplate_ngram_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_docs: int = 3,
) -> DataFrame:
    """Cross-document boilerplate detection (CCNet/RefinedWeb-style, done
    at n-gram granularity because the fixture docs are single-line): a
    word n-gram appearing in >= min_docs DISTINCT documents is
    boilerplate; report per-doc gram totals and the fraction of gram
    positions covered by boilerplate. Returns
    (doc_id, n_grams, n_boiler, boiler_fraction).

    100 TB shape: grams are md5-digested immediately after construction,
    so every shuffle moves 32-hex digests, never text. Three shuffles —
    (doc, digest) combine with map-side partial counts, digest-keyed
    doc-frequency agg, and the digest join-back — all on uniformly
    hash-distributed digest keys (no skew by construction). The
    boilerplate side is NOT assumed broadcastable: at corpus scale the
    duplicated-gram table can be huge, so the join-back is a plain
    shuffle join Catalyst may still downgrade to broadcast when small.
    Oracle twin uses DuckDB md5 over the identically-normalized grams, so
    even hash collisions agree."""
    g = gram_rows(df, text_col, id_col, n).select(
        F.col(id_col), F.md5("gram").alias("g")
    )
    cnt = g.groupBy(id_col, "g").agg(F.count(F.lit(1)).alias("c"))
    dpg = cnt.groupBy("g").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        cnt.join(dpg, "g")
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("n_grams"),
            F.sum(
                F.when(F.col("n_docs") >= min_docs, F.col("c")).otherwise(F.lit(0))
            ).alias("n_boiler"),
        )
        .select(
            id_col,
            "n_grams",
            "n_boiler",
            F.round(
                F.col("n_boiler").cast("double") / F.col("n_grams"), 6
            ).alias("boiler_fraction"),
        )
    )


# --- SimHash banded near-dup pairs ------------------------------------------
# The Manku/Das/Sarma WWW'07 pattern for web-scale near-dup detection: split
# the 64-bit fingerprint into 4 contiguous 16-bit bands and bucket-join on
# (band index, band value). By pigeonhole, any pair with Hamming distance
# <= 3 differs in at most 3 bands, so it MUST agree on at least one band —
# the band join has exact recall for max_hamming <= n_bands - 1 while only
# comparing same-bucket candidates (never all pairs).


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance, banded for scale.

    Distributed shape: simhash64 (one hash aggregate) → 4 band rows per doc
    → self-join on (band_idx, band_val) — the only shuffle that touches all
    docs, keyed on 16-bit buckets → distinct candidate pairs → integer
    XOR/bit_count verify. No all-pairs stage; candidate count is bounded by
    bucket occupancy exactly like MinHash-LSH banding.
    """
    if not 0 <= max_hamming <= 3:
        raise ValueError("exact recall holds only for max_hamming <= 3 with 4 bands")
    sh = simhash64(df, text_col, id_col)
    h = sh.select(
        F.col(id_col),
        F.conv(F.substring("simhash", 1, 8), 16, 10).cast("long").alias("hi"),
        F.conv(F.substring("simhash", 9, 8), 16, 10).cast("long").alias("lo"),
    )
    # Materialize the fingerprint table once: both sides of the band
    # self-join read it, and without a cut Spark re-executes the whole
    # simhash aggregate per side (measured 2x the query wall). 16 bytes/doc
    # — at corpus scale this is the fingerprint table you'd persist anyway
    # (dedup_clusters uses the same lineage-cut idiom).
    h = h.transform(lineage_cut)
    mask = F.lit((1 << 16) - 1)
    bands = h.select(
        F.col(id_col),
        "hi",
        "lo",
        F.posexplode(
            F.array(
                F.shiftright("hi", 16),
                F.col("hi").bitwiseAND(mask),
                F.shiftright("lo", 16),
                F.col("lo").bitwiseAND(mask),
            )
        ).alias("band_idx", "band_val"),
    )
    a = bands.select(
        F.col(id_col).alias("doc_a"),
        F.col("hi").alias("hi_a"),
        F.col("lo").alias("lo_a"),
        "band_idx",
        "band_val",
    )
    b = bands.select(
        F.col(id_col).alias("doc_b"),
        F.col("hi").alias("hi_b"),
        F.col("lo").alias("lo_b"),
        "band_idx",
        "band_val",
    )
    cand = (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "hi_a", "lo_a", "hi_b", "lo_b")
        .distinct()
    )
    hamming = (
        F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
        + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
    ).cast("long")
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def simhash_pairs_oracle_sql(
    max_hamming: int = 3,
    table: str = "documents",
    text_expr: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of simhash_near_dup_pairs: same fingerprints (via
    simhash_oracle_sql), same 4×16-bit banding, same XOR/bit_count verify."""
    base = simhash_oracle_sql(table=table, text_expr=text_expr, id_col=id_col)
    return f"""
    WITH sh AS ({base}),
    h AS (
        SELECT {id_col} AS doc_id,
               ('0x' || substr(simhash, 1, 8))::UBIGINT AS hi,
               ('0x' || substr(simhash, 9, 8))::UBIGINT AS lo
        FROM sh
    ),
    bands AS (
        SELECT doc_id, hi, lo, 0 AS band_idx, hi >> 16 AS band_val FROM h
        UNION ALL SELECT doc_id, hi, lo, 1, hi & 65535 FROM h
        UNION ALL SELECT doc_id, hi, lo, 2, lo >> 16 FROM h
        UNION ALL SELECT doc_id, hi, lo, 3, lo & 65535 FROM h
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.hi AS hi_a, a.lo AS lo_a, b.hi AS hi_b, b.lo AS lo_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           (bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)))::BIGINT
               AS hamming
    FROM cand
    WHERE (bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b))) <= {max_hamming}
    """


# --- Per-source duplication-rate profile ------------------------------------
# The curation dashboard metric that decides which crawl/source to down-weight
# before mixing: how much of each source is exact-duplicated content
# (corpus-wide, so a text shared across two sources marks BOTH docs as dups).


def source_dup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Per-source exact-duplication profile: doc count, docs whose normalized
    text occurs more than once corpus-wide, distinct texts, dup ratio.

    Distributed shape: md5 digests → corpus-wide hash counts (one 32-byte-key
    shuffle, the exact_dedup_groups shape) → join back on the digest → small
    per-source aggregate. The join is digest-to-digest (both sides shrink to
    32 bytes + source), never text-to-text; at 100 TB only hashes move.
    """
    # digest rows materialize ONCE (plan_audit detector 4: the corpus
    # normalize+md5 otherwise compiles twice — corpus_counts and the join
    # side each rebuilt it); the checkpoint is (source, 32-byte digest)
    # rows, the cheapest possible corpus-grain table
    hashes = df.select(
        F.col(source_col), F.md5(normalized_text(text_col)).alias("h")
    ).transform(lineage_cut)
    corpus_counts = hashes.groupBy("h").agg(F.count(F.lit(1)).alias("n"))
    joined = hashes.join(corpus_counts, "h")
    dup_docs = F.sum(F.when(F.col("n") > 1, 1).otherwise(0))
    return joined.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        dup_docs.alias("n_dup_docs"),
        F.count_distinct(F.col("h")).alias("n_distinct_texts"),
        F.round(dup_docs.cast("double") / F.count(F.lit(1)), 6).alias("dup_ratio"),
    )


def source_dup_oracle_sql(
    table: str = "documents", text_expr: str = "text", source_col: str = "source"
) -> str:
    """DuckDB twin of source_dup_stats (same md5-of-normalized-text digest
    as dedup_exact_groups)."""
    return f"""
    WITH h AS (
        SELECT {source_col} AS source,
               md5(regexp_replace(lower(trim({text_expr})), '\\s+', ' ', 'g')) AS h
        FROM {table}
    ),
    cc AS (SELECT h, COUNT(*) AS n FROM h GROUP BY h)
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
           COUNT(DISTINCT h.h) AS n_distinct_texts,
           ROUND(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END)::DOUBLE / COUNT(*), 6)
               AS dup_ratio
    FROM h JOIN cc USING (h)
    GROUP BY source
    """


# --- Asymmetric containment pairs -------------------------------------------
# Jaccard misses quote-containment: a short doc fully embedded in a long one
# has small |A∩B|/|A∪B| but containment |A∩B|/|A| ≈ 1. The standard second
# dedup signal next to Jaccard (Broder's containment, STOC'97 resemblance
# companion measure).


def ngram_containment_pairs(
    df: DataFrame,
    block_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Directed containment pairs: |grams(a) ∩ grams(b)| / |grams(a)| >=
    threshold means doc a is mostly contained in doc b (directed; a→b and
    b→a are distinct rows).

    Distributed shape is the INVERTED-INDEX join, not pairwise set
    intersection: distinct (doc, gram) rows self-join on (block, gram), one
    count per surviving (a, b) pair, divided by |grams(a)|. Pairs sharing
    zero grams never materialize, and no gram array ever crosses a pair —
    the all-pairs array_intersect variant measured 25x slower at sf0.1 and
    is quadratic in block size at any scale.

    The distinct gram-rows table feeds THREE consumers (sizes, both join
    sides) whose exchanges differ in output attributes, so Catalyst cannot
    ReusedExchange them (measured: 6 parquet scans / 3 Generate stages
    without the cut, 2 scans / 1 with) — it is checkpointed once."""
    grams = (
        gram_rows(df, text_col, id_col, n)
        .select(F.col(id_col), "gram")
        .distinct()
        .join(df.select(id_col, block_col), id_col)
        .transform(lineage_cut)
    )
    sizes = grams.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_grams"))
    a = grams.select(
        F.col(block_col).alias("_blk"),
        F.col(id_col).alias("id_a"),
        "gram",
    )
    b = grams.select(
        F.col(block_col).alias("_blk"),
        F.col(id_col).alias("id_b"),
        "gram",
    )
    shared = (
        a.join(b, ["_blk", "gram"])
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_grams").alias("size_a"))
    containment = F.col("n_shared").cast("double") / F.col("size_a")
    return (
        shared.join(sa, "id_a")
        .withColumn("containment", containment)
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", F.round("containment", 6).alias("containment"))
    )


def containment_oracle_sql(
    block_col: str = "lang",
    table: str = "documents",
    text_expr: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
) -> str:
    """DuckDB twin of ngram_containment_pairs (same shingling as the
    Jaccard oracle, directed containment ratio)."""
    norm = f"regexp_replace(lower(trim({text_expr})), '\\s+', ' ', 'g')"
    gram_parts = " || ' ' || ".join(f"ws[i + {j}]" for j in range(n))
    return f"""
    WITH norm AS (
        SELECT {id_col}, {block_col} AS blk,
               string_split({norm}, ' ') AS ws
        FROM {table}),
    gidx AS (
        SELECT {id_col}, blk,
               unnest(CASE WHEN len(ws) >= {n}
                      THEN range(1, len(ws) - {n - 2})
                      ELSE [] END) AS i, ws
        FROM norm),
    gram_rows AS (
        SELECT DISTINCT {id_col}, blk, {gram_parts} AS g FROM gidx),
    gsets AS (
        SELECT {id_col}, blk, list_distinct(list(g)) AS grams
        FROM gram_rows GROUP BY {id_col}, blk)
    SELECT a.{id_col} AS id_a, b.{id_col} AS id_b,
           ROUND(len(list_intersect(a.grams, b.grams))::DOUBLE
                 / len(a.grams), 6) AS containment
    FROM gsets a JOIN gsets b ON a.blk = b.blk AND a.{id_col} != b.{id_col}
    WHERE len(a.grams) > 0
      AND len(list_intersect(a.grams, b.grams))::DOUBLE / len(a.grams)
          >= {threshold}
    """


# --- Fuzzy cross-corpus decontamination --------------------------------------
# contamination_hits (above) catches EXACT n-gram overlap with a benchmark;
# near-duplicate contamination (light paraphrase, whitespace noise) needs the
# minhash path. Pairs that cross the corpus/benchmark boundary are the leaks.


def fuzzy_decontamination(
    df: DataFrame,
    bench_source: str,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup contamination: MinHash-LSH pairs (the corpus-scale path)
    filtered to pairs where exactly one side belongs to ``bench_source``.
    Output is oriented (corpus_id, bench_id, jac). Same banded candidate
    structure as minhash_lsh_pairs — contamination costs no more than the
    dedup pass it rides on."""
    pairs = minhash_lsh_pairs(df, text_col, id_col, n=n, threshold=threshold)
    src = df.select(F.col(id_col), F.col(source_col))
    sa = src.select(F.col(id_col).alias("id_a"), F.col(source_col).alias("src_a"))
    sb = src.select(F.col(id_col).alias("id_b"), F.col(source_col).alias("src_b"))
    tagged = pairs.join(sa, "id_a").join(sb, "id_b")
    crossing = tagged.filter(
        (F.col("src_a") == bench_source) != (F.col("src_b") == bench_source)
    )
    return crossing.select(
        F.when(F.col("src_a") == bench_source, F.col("id_b"))
        .otherwise(F.col("id_a"))
        .alias("corpus_id"),
        F.when(F.col("src_a") == bench_source, F.col("id_a"))
        .otherwise(F.col("id_b"))
        .alias("bench_id"),
        "jac",
    )


def fuzzy_decontamination_oracle_sql(
    bench_source: str,
    source_col: str = "source",
    table: str = "documents",
    threshold: float = 0.5,
) -> str:
    """DuckDB twin of fuzzy_decontamination: the minhash-pair oracle as a
    CTE, boundary-crossing filter, corpus/bench orientation."""
    pairs = minhash_oracle_sql(table=table, threshold=threshold)
    return f"""
    WITH pairs AS ({pairs})
    SELECT CASE WHEN a.{source_col} = '{bench_source}'
                THEN p.id_b ELSE p.id_a END AS corpus_id,
           CASE WHEN a.{source_col} = '{bench_source}'
                THEN p.id_a ELSE p.id_b END AS bench_id,
           p.jac
    FROM pairs p
    JOIN {table} a ON a.doc_id = p.id_a
    JOIN {table} b ON b.doc_id = p.id_b
    WHERE (a.{source_col} = '{bench_source}') != (b.{source_col} = '{bench_source}')
    """


def incremental_near_dup(
    incoming: DataFrame,
    band_index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Near-dup filter of an incoming batch against a persisted LSH band
    index: returns the band rows (id, band, bhash) of SURVIVING docs — the
    exact rows to append to the index; survivors are their distinct ids.

    Policy (the streaming-ingest precision/recall trade, declared): any
    band collision counts as a duplicate — no gram-level verify, because
    verification would require keeping every indexed doc's gram sets
    (corpus-sized text state). At 8 bands of 2 signature rows a false
    band collision needs 2 agreeing minhashes, so precision is tuned by
    band width, exactly as in the batch pair path. In-batch ties resolve
    greedily: lowest id in a bucket survives.

    Shuffles: band rows only (id + 32-byte hash). One window over the
    batch's band rows tagged-unioned with the index's (band, bhash),
    partitioned by bucket: a row is hit when an index row shares its
    bucket or its id is above the bucket's minimum id. A second window
    by id drops every row of a doc with any hit. No join, and the band
    rows are computed once, so the operator needs no lineage cut of its
    own — per-batch cost is linear in batch size and index lookups, never
    corpus text.
    """
    bands = minhash_band_rows(incoming, text_col, id_col, n)
    probe = band_index.select(
        F.lit(None).cast(bands.schema[id_col].dataType).alias(id_col),
        "band",
        "bhash",
        F.lit(True).alias("_idx"),
    )
    bucket = Window.partitionBy("band", "bhash")
    hit = F.max("_idx").over(bucket) | (
        F.col(id_col) > F.min(id_col).over(bucket)
    )
    flagged = (
        bands.withColumn("_idx", F.lit(False))
        .unionByName(probe)
        .withColumn("_hit", hit)
        .filter(~F.col("_idx"))
    )
    lost = F.max("_hit").over(Window.partitionBy(id_col))
    return (
        flagged.withColumn("_lost", lost)
        .filter(~F.col("_lost"))
        .select(id_col, "band", "bhash")
    )


# --- Passage-level exact duplication -----------------------------------------
# The sub-document granularity of exact dedup (Lee et al., "Deduplicating
# Training Data Makes Language Models Better": repeated SPANS matter, not
# just repeated documents). Fixed-width token passages stand in for suffix
# -array substrings: hash each non-overlapping window, count corpus-wide,
# report the per-doc duplicated-passage fraction — the signal a span-level
# scrubber thresholds on.


def passage_dup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    passage_len: int = 12,
) -> DataFrame:
    """Per-doc passage-duplication profile: split each doc into
    non-overlapping ``passage_len``-token passages (full windows only;
    docs shorter than one passage are excluded), md5 each passage, count
    occurrences corpus-wide, report (n_passages, n_dup_passages,
    dup_fraction) where a passage is dup if its hash occurs >1 time in the
    corpus.

    Distributed shape: row-local split/slice/hash, ONE digest-key shuffle
    for the corpus counts (32-byte keys, map-side partial), digest join
    back, per-doc aggregate. Text never shuffles; the passage stream is
    ~n_tokens/passage_len rows per doc. Linear at any corpus size.
    """
    words = df.select(
        F.col(id_col), F.split(normalized_text(text_col), " ").alias("_ws")
    ).filter(F.size("_ws") >= passage_len)
    n_p = F.floor(F.size("_ws") / passage_len).cast("int")
    passages = words.select(
        F.col(id_col),
        F.col("_ws"),
        F.explode(F.sequence(F.lit(0), n_p - 1)).alias("_pi"),
    ).select(
        F.col(id_col),
        F.md5(
            F.concat_ws(
                " ", F.slice("_ws", F.col("_pi") * passage_len + 1, passage_len)
            )
        ).alias("_ph"),
    ).transform(lineage_cut)
    # (id, digest) rows materialize once: counts and the join-back each
    # consumed their own compile of the tokenize+slice+hash chain before
    # the cut (plan_audit detector 4); the table is ~n_tokens/passage_len
    # 32-byte rows per doc — far below the text it derives from
    counts = passages.groupBy("_ph").agg(F.count(F.lit(1)).alias("_n"))
    dup = F.sum(F.when(F.col("_n") > 1, 1).otherwise(0))
    return (
        passages.join(counts, "_ph")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_passages"),
            dup.alias("n_dup_passages"),
            F.round(dup.cast("double") / F.count(F.lit(1)), 6).alias(
                "dup_fraction"
            ),
        )
    )


def passage_dup_oracle_sql(
    table: str = "documents",
    text_expr: str = "text",
    id_col: str = "doc_id",
    passage_len: int = 12,
) -> str:
    """DuckDB twin of passage_dup_stats (list_slice end-inclusive, so end =
    start + len - 1 mirrors Spark's slice(start, length))."""
    norm = f"regexp_replace(lower(trim({text_expr})), '\\s+', ' ', 'g')"
    return f"""
    WITH words AS (
        SELECT {id_col}, string_split({norm}, ' ') AS ws FROM {table}
    ),
    eligible AS (
        SELECT {id_col}, ws, CAST(len(ws) // {passage_len} AS INT) AS n_p
        FROM words WHERE len(ws) >= {passage_len}
    ),
    p AS (
        SELECT {id_col},
               md5(array_to_string(
                   list_slice(ws, pi * {passage_len} + 1,
                              pi * {passage_len} + {passage_len}), ' ')) AS ph
        FROM (SELECT {id_col}, ws, unnest(range(0, n_p)) AS pi FROM eligible)
    ),
    c AS (SELECT ph, COUNT(*) AS n FROM p GROUP BY ph)
    SELECT {id_col},
           COUNT(*) AS n_passages,
           CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_passages,
           ROUND(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END)::DOUBLE / COUNT(*), 6)
               AS dup_fraction
    FROM p JOIN c USING (ph)
    GROUP BY {id_col}
    """


# --- Cross-source priority dedup ---------------------------------------------
# When the same document arrives from several feeds (common crawl + a
# curated dump), dedup must be PRIORITIZED: keep the copy from the most
# trusted source, and account for what each source lost to whom — the
# provenance ledger a mixture designer reads before reweighting sources.


def cross_source_survivors(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Priority dedup across sources with a per-source accounting: within
    each normalized-text digest group the survivor is the copy from the
    lexicographically-first source (tie: lowest id). Returns per source:
    n_docs, n_kept, n_lost_within (lost to a same-source copy),
    n_lost_cross (lost to a higher-priority source).

    One digest-key shuffle (32-byte keys) feeds BOTH the survivor rank and
    the winner's source (first-value over the same window frame — no second
    join); the final aggregate is per-source, map-side partial. Text never
    moves after hashing.
    """
    h = df.select(
        F.col(source_col), F.col(id_col), F.md5(normalized_text(text_col)).alias("_h")
    )
    w = Window.partitionBy("_h").orderBy(F.col(source_col), F.col(id_col))
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = h.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_wsrc", F.first(source_col).over(wf)
    )
    return ranked.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("_rn") == 1, 1).otherwise(0)).alias("n_kept"),
        F.sum(
            F.when((F.col("_rn") > 1) & (F.col("_wsrc") == F.col(source_col)), 1)
            .otherwise(0)
        ).alias("n_lost_within"),
        F.sum(
            F.when((F.col("_rn") > 1) & (F.col("_wsrc") != F.col(source_col)), 1)
            .otherwise(0)
        ).alias("n_lost_cross"),
    )


def cross_source_oracle_sql(
    table: str = "documents",
    text_expr: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> str:
    """DuckDB twin of cross_source_survivors."""
    norm = f"regexp_replace(lower(trim({text_expr})), '\\s+', ' ', 'g')"
    return f"""
    WITH h AS (
        SELECT {source_col} AS src, {id_col} AS id, md5({norm}) AS hh
        FROM {table}
    ),
    ranked AS (
        SELECT src, id,
               ROW_NUMBER() OVER (PARTITION BY hh ORDER BY src, id) AS rn,
               FIRST_VALUE(src) OVER (
                   PARTITION BY hh ORDER BY src, id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                   AS wsrc
        FROM h
    )
    SELECT src AS {source_col},
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rn > 1 AND wsrc = src THEN 1 ELSE 0 END)
                AS BIGINT) AS n_lost_within,
           CAST(SUM(CASE WHEN rn > 1 AND wsrc <> src THEN 1 ELSE 0 END)
                AS BIGINT) AS n_lost_cross
    FROM ranked
    GROUP BY src
    """


# --- Content-defined chunking (CDC) dedup ------------------------------------
# Fixed-width passages (passage_dup_stats) lose every window after a single
# token insertion; content-defined boundaries — cut where a content hash of
# the token lands in a fixed residue class, the Rabin/LBFS trick — realign
# immediately, so shifted duplicates still share all chunks except the one
# containing the edit. Mean chunk length = the divisor (8 tokens here).


def cdc_doc_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    divisor: int = 8,
    salt: str = "cdc",
) -> DataFrame:
    """Per-doc content-defined chunk digests (id, _ch, _cid) — the
    DOC-LOCAL half of cdc_chunk_stats (boundaries depend only on the
    doc's own token content), exposed so incremental pipelines can
    summarize each wave once and count digests across waves later."""
    from .sampling import hash_bucket  # noqa: PLC0415 (cycle guard)

    toks = df.select(
        F.col(id_col),
        F.posexplode(F.split(normalized_text(text_col), " ")).alias("_pos", "_w"),
    ).withColumn(
        "_flag", F.when(hash_bucket(F.col("_w"), divisor, salt) == 0, 1).otherwise(0)
    )
    wc = (
        Window.partitionBy(id_col)
        .orderBy("_pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    chunked = toks.withColumn("_cid", F.sum("_flag").over(wc))
    return chunked.groupBy(id_col, "_cid").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_w"))),
                    lambda x: x["_w"],
                ),
                " ",
            )
        ).alias("_ch")
    )


def cdc_chunk_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    divisor: int = 8,
    salt: str = "cdc",
) -> DataFrame:
    """Per-doc content-defined-chunk duplication profile: a token whose
    md5 bucket (mod ``divisor``) is 0 STARTS a new chunk; chunks are
    hashed and counted corpus-wide; report (n_chunks, n_dup_chunks,
    dup_fraction). Boundaries depend only on token CONTENT, so an
    insertion re-localizes to one chunk instead of shifting every window.

    Distributed shape: tokenize (row-local) -> per-doc boundary cumsum (a
    doc-partitioned window over ~tokens/doc rows) -> chunk regroup by
    (doc, chunk) -> ONE 32-byte digest shuffle for corpus counts -> per-doc
    aggregate. Same digest-only contract as exact/passage dedup.
    """
    chunks = cdc_doc_chunks(
        df, text_col=text_col, id_col=id_col, divisor=divisor, salt=salt
    )
    counts = chunks.groupBy("_ch").agg(F.count(F.lit(1)).alias("_n"))
    dup = F.sum(F.when(F.col("_n") > 1, 1).otherwise(0))
    return (
        chunks.join(counts, "_ch")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            dup.alias("n_dup_chunks"),
            F.round(dup.cast("double") / F.count(F.lit(1)), 6).alias(
                "dup_fraction"
            ),
        )
    )


def cdc_chunk_oracle_sql(
    table: str = "documents",
    text_expr: str = "text",
    id_col: str = "doc_id",
    divisor: int = 8,
    salt: str = "cdc",
) -> str:
    """DuckDB twin of cdc_chunk_stats (same md5 bucket boundary rule, same
    boundary-starts-chunk cumsum)."""
    from .sampling import hash_bucket_sql  # noqa: PLC0415 (cycle guard)

    norm = f"regexp_replace(lower(trim({text_expr})), '\\s+', ' ', 'g')"
    bucket = hash_bucket_sql("w", divisor, salt)
    return f"""
    WITH toks AS (
        SELECT {id_col}, pos, w,
               CASE WHEN {bucket} = 0 THEN 1 ELSE 0 END AS flag
        FROM (SELECT {id_col},
                     unnest(string_split({norm}, ' ')) AS w,
                     generate_subscripts(string_split({norm}, ' '), 1) AS pos
              FROM {table})
    ),
    chunked AS (
        SELECT {id_col}, pos, w,
               SUM(flag) OVER (PARTITION BY {id_col} ORDER BY pos
                               ROWS UNBOUNDED PRECEDING) AS cid
        FROM toks
    ),
    chunks AS (
        SELECT {id_col}, cid,
               md5(string_agg(w, ' ' ORDER BY pos)) AS ch
        FROM chunked GROUP BY {id_col}, cid
    ),
    c AS (SELECT ch, COUNT(*) AS n FROM chunks GROUP BY ch)
    SELECT {id_col},
           COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_chunks,
           ROUND(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END)::DOUBLE / COUNT(*), 6)
               AS dup_fraction
    FROM chunks JOIN c USING (ch)
    GROUP BY {id_col}
    """


# --- Source-overlap matrix ---------------------------------------------------


def source_overlap_matrix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Pairwise source-overlap diagnostic: for each ordered source pair
    (a < b), how many distinct normalized-text digests appear in BOTH —
    the matrix a mixture designer reads to find feeds that are re-serving
    each other's content. Returns (source_a, source_b, n_shared, n_a,
    n_b, overlap_jaccard).

    Distributed shape: per-source distinct digests (one 32-byte shuffle),
    then pairs are generated PER DIGEST from that digest's source list —
    work is sum over digests of sources_with_digest^2, bounded by dup
    density x sources, never |sources|^2 x |corpus|. Per-source distinct
    totals broadcast back onto the tiny pair table.
    """
    # (source, 32-byte digest) rows materialize ONCE: totals and both
    # self-join sides otherwise each compile their own corpus
    # normalize+md5 (plan_audit detector 4 caught 2 executed compiles at
    # sf0.1 — exchange reuse is size-dependent and not a contract; the
    # source_dup_stats trade, cheapest possible corpus-grain table)
    h = df.select(
        F.col(source_col).alias("_src"), F.md5(normalized_text(text_col)).alias("_h")
    ).distinct().transform(lineage_cut)
    totals = h.groupBy("_src").agg(F.count(F.lit(1)).alias("_tot"))
    a = h.select(F.col("_h"), F.col("_src").alias("source_a"))
    b = h.select(F.col("_h"), F.col("_src").alias("source_b"))
    shared = (
        a.join(b, "_h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    ta = F.broadcast(totals.select(F.col("_src").alias("source_a"), F.col("_tot").alias("n_a")))
    tb = F.broadcast(totals.select(F.col("_src").alias("source_b"), F.col("_tot").alias("n_b")))
    return (
        shared.join(ta, "source_a")
        .join(tb, "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "n_a",
            "n_b",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
                6,
            ).alias("overlap_jaccard"),
        )
    )


def source_overlap_oracle_sql(
    table: str = "documents",
    text_expr: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> str:
    """DuckDB twin of source_overlap_matrix."""
    norm = f"regexp_replace(lower(trim({text_expr})), '\\s+', ' ', 'g')"
    return f"""
    WITH h AS (
        SELECT DISTINCT {source_col} AS src, md5({norm}) AS hh FROM {table}
    ),
    totals AS (SELECT src, COUNT(*) AS tot FROM h GROUP BY src),
    shared AS (
        SELECT a.src AS source_a, b.src AS source_b, COUNT(*) AS n_shared
        FROM h a JOIN h b ON a.hh = b.hh AND a.src < b.src
        GROUP BY a.src, b.src
    )
    SELECT source_a, source_b, n_shared,
           ta.tot AS n_a, tb.tot AS n_b,
           ROUND(n_shared::DOUBLE / (ta.tot + tb.tot - n_shared), 6)
               AS overlap_jaccard
    FROM shared
    JOIN totals ta ON ta.src = source_a
    JOIN totals tb ON tb.src = source_b
    """


def longest_dup_span(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 8
) -> DataFrame:
    """Longest CONTIGUOUS duplicated span per doc — the span-granularity
    exact-substring signal of Lee et al. 2022 ("Deduplicating Training
    Data...") that the scalar repeated-ngram FRACTION can't see: one doc
    with a 500-token verbatim block and one with 500 scattered repeats
    score the same fraction but need opposite treatment (cut the block vs
    keep the doc). A gram is 'duplicated' when its n-gram occurs >= 2
    times CORPUS-WIDE; runs of consecutive duplicated positions collapse
    via the gaps-and-islands trick (pos - row_number is constant within a
    run). Returns (doc_id, n_dup_grams, longest_dup_run,
    longest_dup_span_tokens) zero-filled for clean docs.

    Distributed shape: one posexplode+lead pass per doc (linear per word),
    one corpus-wide gram-count shuffle (digest-sized rows — same cost
    class as passage_dup_stats), one per-doc window + aggregate. No
    all-pairs stage anywhere."""
    from pyspark.sql import Window

    words = df.select(
        F.col(id_col),
        F.posexplode(F.split(normalized_text(text_col), " ")).alias("pos", "w"),
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    parts = [F.col("w")] + [F.lead("w", j).over(w) for j in range(1, n)]
    grams = (
        words.select(
            F.col(id_col), F.col("pos"),
            *[p.alias(f"_p{j}") for j, p in enumerate(parts)],
        )
        .filter(F.col(f"_p{n - 1}").isNotNull())
        .select(
            F.col(id_col), F.col("pos"),
            # gram identity only ever feeds a count and a join — it
            # travels as a 32-byte digest, never the n-word string
            F.md5(
                F.concat_ws(" ", *[F.col(f"_p{j}") for j in range(n)])
            ).alias("gram"),
        )
        # materialize ONCE: dup-counts and the runs join each compiled
        # their own posexplode+lead-window chain before the cut (plan_audit
        # detector 4) — two per-doc window sorts for one logical pass
        .transform(lineage_cut)
    )
    dup = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= 2)
        .select("gram")
    )
    iw = Window.partitionBy(id_col).orderBy("pos")
    runs = (
        grams.join(dup, "gram")
        .select(
            F.col(id_col),
            (F.col("pos") - F.row_number().over(iw)).alias("_island"),
        )
        .groupBy(id_col, "_island")
        .agg(F.count(F.lit(1)).alias("_run"))
        .groupBy(id_col)
        .agg(
            F.sum("_run").alias("n_dup_grams"),
            F.max("_run").alias("_longest"),
        )
    )
    return (
        df.select(id_col)
        .join(runs, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_dup_grams"), F.lit(0)).alias("n_dup_grams"),
            F.coalesce(F.col("_longest"), F.lit(0)).alias("longest_dup_run"),
            F.when(F.col("_longest").isNull(), F.lit(0))
            .otherwise(F.col("_longest") + (n - 1))
            .cast("long")
            .alias("longest_dup_span_tokens"),
        )
    )


def longest_dup_span_oracle_sql(
    table: str = "documents",
    text_expr: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> str:
    """DuckDB twin of longest_dup_span (1-based positions vs Spark's
    0-based posexplode — islands only use position DIFFERENCES, so the
    base offset cancels)."""
    norm = f"regexp_replace(lower(trim({text_expr})), '\\s+', ' ', 'g')"
    gram = " || ' ' || ".join(f"ws[i+{j}]" for j in range(n))
    return f"""
    WITH words AS (
        SELECT {id_col}, string_split({norm}, ' ') AS ws FROM {table}
    ),
    grams AS (
        SELECT {id_col}, i, {gram} AS g
        FROM (SELECT {id_col}, ws,
                     unnest(CASE WHEN len(ws) >= {n}
                            THEN range(1, len(ws) - {n - 2}) ELSE [] END) AS i
              FROM words)
    ),
    dup AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 2),
    runs AS (
        SELECT {id_col}, island, CAST(COUNT(*) AS BIGINT) AS run_len
        FROM (SELECT {id_col}, i,
                     i - ROW_NUMBER() OVER (PARTITION BY {id_col} ORDER BY i)
                         AS island
              FROM grams JOIN dup USING (g))
        GROUP BY 1, 2
    ),
    per AS (
        SELECT {id_col}, CAST(SUM(run_len) AS BIGINT) AS n_dup_grams,
               CAST(MAX(run_len) AS BIGINT) AS longest
        FROM runs GROUP BY 1
    )
    SELECT d.{id_col},
           COALESCE(per.n_dup_grams, 0) AS n_dup_grams,
           COALESCE(per.longest, 0) AS longest_dup_run,
           CASE WHEN per.longest IS NULL THEN 0
                ELSE per.longest + {n - 1} END AS longest_dup_span_tokens
    FROM {table} d LEFT JOIN per ON d.{id_col} = per.{id_col}
    """


# --- N-gram novelty (first-occurrence attribution) ---------------------------
# Per-doc "how much of this document is NEW text": the fraction of its
# distinct n-grams whose first corpus occurrence (min doc_id) is this doc.
# The complement of coverage-style dup metrics — dup_fraction asks "is this
# text repeated anywhere", novelty asks "did it appear HERE first", which is
# the signal an ordered-ingest pipeline uses to price a source's marginal
# contribution (a mirror that re-posts old content scores ~0 even though
# its docs are not exact dups of any single earlier doc).


def ngram_novelty(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """(id, n_grams, n_novel, novelty): distinct word-``n``-gram count per
    doc, how many of them first occur in this doc (corpus-wide min id),
    and the novel fraction. Docs with fewer than ``n`` words emit no row
    (they have no n-grams to attribute).

    Distributed shape: grams leave the doc as 32-byte md5 digests; ONE
    digest-keyed shuffle computes first-occurrence ids; the join back is
    digest-keyed too. Never shuffles text; linear in corpus gram count.
    Grams come from gram_rows (posexplode + window lead — linear per
    word); exploding ngram_sets' array transform re-inlines the split
    into the generator and goes quadratic per doc (measured 30x slower
    at sf0.1)."""
    rows = (
        gram_rows(df, text_col, id_col, n)
        .select(F.col(id_col), F.md5("gram").alias("_g"))
        .distinct()
    )
    firsts = rows.groupBy("_g").agg(F.min(id_col).alias("_first"))
    novel = F.sum(F.when(F.col("_first") == F.col(id_col), 1).otherwise(0))
    return (
        rows.join(firsts, "_g")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            novel.alias("n_novel"),
            F.round(
                novel.cast("double") / F.count(F.lit(1)), 6
            ).alias("novelty"),
        )
    )


def ngram_novelty_oracle_sql(
    table: str = "documents",
    text_expr: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> str:
    """DuckDB twin of ngram_novelty (same distinct grams, same md5 keys,
    same min-id attribution)."""
    norm = f"regexp_replace(lower(trim({text_expr})), '\\s+', ' ', 'g')"
    gram = " || ' ' || ".join(f"ws[i+{j}]" for j in range(n))
    return f"""
    WITH words AS (
        SELECT {id_col}, string_split({norm}, ' ') AS ws FROM {table}
    ),
    grams AS (
        SELECT DISTINCT {id_col}, md5({gram}) AS g
        FROM (SELECT {id_col}, ws,
                     unnest(CASE WHEN len(ws) >= {n}
                            THEN range(1, len(ws) - {n - 2}) ELSE [] END) AS i
              FROM words)
    ),
    firsts AS (SELECT g, MIN({id_col}) AS f FROM grams GROUP BY g)
    SELECT {id_col},
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN f = {id_col} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel,
           ROUND(CAST(SUM(CASE WHEN f = {id_col} THEN 1 ELSE 0 END) AS BIGINT)
                 ::DOUBLE / COUNT(*), 6) AS novelty
    FROM grams JOIN firsts USING (g)
    GROUP BY {id_col}
    """


# --- LSH band-configuration sweep (tuning eval) ------------------------------
# The bands×rows tradeoff IS the MinHash tuning knob: more bands / fewer
# rows per band → higher recall, more candidates (cost); fewer, wider
# bands → precision. This measures all three classic configs of the
# 16-hash signature IN ONE PLAN against the exact-Jaccard truth set, so
# the choice is data-driven instead of folklore.


def lsh_band_sweep(
    df: DataFrame,
    block_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    configs: tuple[tuple[int, int], ...] = ((8, 2), (4, 4), (2, 8)),
) -> DataFrame:
    """(config, n_bands, rows_per_band, n_candidates, n_truth, n_hits,
    precision, recall) — one row per band configuration. Truth = the
    exact inverted-index Jaccard pairs >= threshold under the SAME
    blocking discipline (candidates restrict to same-block pairs, as the
    production pair-gen does). The signature table materializes once and
    feeds every config; candidate sets never carry text."""
    sigs = minhash_signatures(df, text_col, id_col, n).transform(lineage_cut)
    blocks = df.select(F.col(id_col), F.col(block_col).alias("_blk"))
    truth = (
        ngram_jaccard_pairs(
            df, block_col, text_col=text_col, id_col=id_col, n=n,
            threshold=threshold,
        )
        .select("id_a", "id_b")
        .transform(lineage_cut)
    )
    n_truth = F.broadcast(truth.agg(F.count(F.lit(1)).alias("n_truth")))
    spark = df.sparkSession
    # ONE melt + ONE self-join for every config: the config tag rides in
    # the bucket key, so the whole sweep costs one shuffle over the union
    # of band rows (Σ nb per doc) instead of a join per configuration.
    structs = []
    for nb, rpb in configs:
        for b in range(nb):
            structs.append(
                F.struct(
                    F.lit(f"{nb}x{rpb}").alias("config"),
                    F.lit(b).alias("band"),
                    F.md5(
                        F.concat_ws(
                            "|",
                            *[
                                F.col(f"h{b * rpb + j}").cast("string")
                                for j in range(rpb)
                            ],
                        )
                    ).alias("bhash"),
                )
            )
    melted = (
        sigs.select(id_col, F.explode(F.array(*structs)).alias("bb"))
        .select(id_col, "bb.config", "bb.band", "bb.bhash")
        .join(blocks, id_col)
    )
    cands = (
        melted.select(
            F.col(id_col).alias("id_a"), "config", "band", "bhash", "_blk"
        )
        .join(
            melted.select(
                F.col(id_col).alias("id_b"), "config", "band", "bhash", "_blk"
            ),
            ["config", "band", "bhash", "_blk"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("config", "id_a", "id_b")
        .distinct()
        .transform(lineage_cut)  # feeds both the count and the hit join
    )
    per_cfg = cands.groupBy("config").agg(
        F.count(F.lit(1)).alias("n_candidates")
    )
    per_hit = (
        cands.join(truth, ["id_a", "id_b"], "leftsemi")
        .groupBy("config")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    meta = spark.createDataFrame(
        [(f"{nb}x{rpb}", nb, rpb) for nb, rpb in configs],
        "config string, n_bands int, rows_per_band int",
    )
    n_c = F.coalesce("n_candidates", F.lit(0)).cast("long")
    n_h = F.coalesce("n_hits", F.lit(0)).cast("long")
    return (
        meta.join(per_cfg, "config", "left")
        .join(per_hit, "config", "left")
        .crossJoin(n_truth)
        .select(
            "config",
            "n_bands",
            "rows_per_band",
            n_c.alias("n_candidates"),
            "n_truth",
            n_h.alias("n_hits"),
            F.when(
                n_c > 0, F.round(n_h.cast("double") / n_c, 6)
            ).alias("precision"),
            F.when(
                F.col("n_truth") > 0,
                F.round(n_h.cast("double") / F.col("n_truth"), 6),
            ).alias("recall"),
        )
    )


def lsh_band_sweep_oracle_sql(
    table: str = "documents",
    block_col: str = "lang",
    text_expr: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    configs: tuple[tuple[int, int], ...] = ((8, 2), (4, 4), (2, 8)),
) -> str:
    """DuckDB twin of lsh_band_sweep (same signatures, same band md5s,
    same blocked truth set)."""
    norm = f"regexp_replace(lower(trim({text_expr})), '\\s+', ' ', 'g')"
    gram_parts = " || ' ' || ".join(f"ws[i + {j}]" for j in range(n))
    gx = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(g), {j + 1}, 1)) - 1) * {16 ** (7 - j)}"
        for j in range(8)
    )
    mins = ", ".join(
        f"MIN(({a} * gx + {b}) % {MINHASH_PRIME}) AS h{i}"
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    )
    jac = (
        "len(list_intersect(a.grams, b.grams))::DOUBLE"
        " / (len(a.grams) + len(b.grams)"
        " - len(list_intersect(a.grams, b.grams)))"
    )
    ctes = [
        f"""words AS (
        SELECT {id_col}, {block_col} AS blk, string_split({norm}, ' ') AS ws
        FROM {table})""",
        f"""gram_rows AS (
        SELECT DISTINCT {id_col}, blk, {gram_parts} AS g
        FROM (SELECT {id_col}, blk, ws,
                     unnest(CASE WHEN len(ws) >= {n}
                            THEN range(1, len(ws) - {n - 2})
                            ELSE [] END) AS i
              FROM words))""",
        f"""sigs AS (
        SELECT {id_col},
               {mins}
        FROM (SELECT {id_col}, ({gx})::BIGINT AS gx FROM gram_rows)
        GROUP BY {id_col})""",
        f"""gsets AS (
        SELECT {id_col}, blk, list_distinct(list(g)) AS grams
        FROM gram_rows GROUP BY {id_col}, blk)""",
        f"""truth AS (
        SELECT a.{id_col} AS id_a, b.{id_col} AS id_b
        FROM gsets a JOIN gsets b
          ON a.blk = b.blk AND a.{id_col} < b.{id_col}
        WHERE {jac} >= {threshold})""",
        "tn AS (SELECT COUNT(*) AS n_truth FROM truth)",
        f"""blks AS (SELECT {id_col}, {block_col} AS blk FROM {table})""",
    ]
    selects = []
    for nb, rpb in configs:
        tag = f"c{nb}x{rpb}"
        band_exprs = " UNION ALL ".join(
            "SELECT s.{idc}, {b} AS band, md5({parts}) AS bhash FROM sigs s".format(
                idc=id_col,
                b=b,
                parts=" || '|' || ".join(
                    f"s.h{b * rpb + j}::VARCHAR" for j in range(rpb)
                ),
            )
            for b in range(nb)
        )
        ctes.append(f"""m_{tag} AS (
        SELECT mm.{id_col}, mm.band, mm.bhash, blks.blk
        FROM ({band_exprs}) mm JOIN blks ON mm.{id_col} = blks.{id_col})""")
        ctes.append(f"""p_{tag} AS (
        SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b
        FROM m_{tag} a JOIN m_{tag} b
          ON a.band = b.band AND a.bhash = b.bhash AND a.blk = b.blk
             AND a.{id_col} < b.{id_col})""")
        ctes.append(f"""s_{tag} AS (
        SELECT (SELECT COUNT(*) FROM p_{tag}) AS n_candidates,
               (SELECT COUNT(*) FROM p_{tag} JOIN truth USING (id_a, id_b))
                   AS n_hits)""")
        selects.append(f"""
        SELECT '{nb}x{rpb}' AS config, {nb} AS n_bands, {rpb} AS rows_per_band,
               CAST(n_candidates AS BIGINT) AS n_candidates,
               CAST(n_truth AS BIGINT) AS n_truth,
               CAST(n_hits AS BIGINT) AS n_hits,
               CASE WHEN n_candidates > 0
                    THEN ROUND(n_hits::DOUBLE / n_candidates, 6) END AS precision,
               CASE WHEN n_truth > 0
                    THEN ROUND(n_hits::DOUBLE / n_truth, 6) END AS recall
        FROM s_{tag} CROSS JOIN tn""")
    return "WITH " + ",\n    ".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)
