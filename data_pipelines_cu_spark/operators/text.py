"""Text-analysis operators for training-data pipelines (north-star set).

Grounded in the reference's text operators — sentiment scoring
(Solutions/gold_war_etl_dag.py:134-139) and keyword scanning (:93-97) — and
extended with language-ID, quality scoring, token counting and document
fingerprinting. Everything is built-in-function column algebra (JVM-side,
whole-stage codegen, no Python in the hot path) and every op has an exact
ANSI-SQL twin so the DuckDB oracle can verify it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import normalized_text
from .materialize import lineage_cut

# Tiny per-language function-word lexicons for the n-gram/stopword heuristic
# language-ID (deterministic; ordered dict fixes tie-break priority).
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "that", "for", "with"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"),
    "es": ("el", "la", "los", "las", "y", "es", "que", "de", "un", "una"),
    "fr": ("le", "la", "les", "et", "est", "que", "un", "une", "pour", "dans"),
    "zh": ("的", "是", "了", "在", "我", "有", "和", "就", "不", "人"),
}

POSITIVE_WORDS = ("good", "great", "fast", "best", "win", "up", "gain", "success")
NEGATIVE_WORDS = ("bad", "slow", "worst", "loss", "down", "fail", "error", "crash")

PUNCT_PATTERN = r"[.,!?;:]"


def _words(text_col: str | Column) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(F.lower(F.trim(c)), r"\s+")


def _hits(words: Column, vocab: tuple[str, ...]) -> Column:
    """Count of tokens that are in ``vocab`` (multiset count, not distinct)."""
    return F.size(F.filter(words, lambda w: w.isin(*vocab)))


def _with_words(df: DataFrame, text_col: str) -> DataFrame:
    """Bind the tokenization to a named column so downstream expressions
    reference the attribute instead of embedding their own copy of the
    regex split (multiple embedded copies = split re-evaluated per
    consumer; same plan pitfall as operators.dedup.ngram_sets)."""
    return df.withColumn("_ws", _words(text_col))


def with_token_count(df: DataFrame, text_col: str = "text", out: str = "n_tokens") -> DataFrame:
    """Whitespace token count (the standard pre-tokenizer length proxy)."""
    return df.withColumn(out, F.size(_words(text_col)))


def with_char_token_estimate(
    df: DataFrame, text_col: str = "text", out: str = "n_tokens_bpe_est"
) -> DataFrame:
    """BPE-ish token estimate: word-piece regex matches — alpha runs, digit
    runs, and isolated symbols — the usual ~chars/4 proxy made countable."""
    return df.withColumn(
        out, F.regexp_count(F.col(text_col), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"))
    )


def lang_hits(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-language stopword hit counts (columns hits_<lang>)."""
    out = _with_words(df, text_col)
    words = F.col("_ws")
    for lang, vocab in LANG_STOPWORDS.items():
        out = out.withColumn(f"hits_{lang}", _hits(words, vocab))
    return out.drop("_ws")


def with_lang_id(df: DataFrame, text_col: str = "text", out: str = "lang_pred") -> DataFrame:
    """Heuristic language-ID: argmax of stopword hits, ties broken by the
    fixed lexicon priority order (first language with the max count)."""
    scored = lang_hits(df, text_col)
    langs = list(LANG_STOPWORDS)
    expr = None
    # CASE hits_en >= all_others THEN 'en' WHEN hits_de >= remaining ... —
    # identical CASE chain is emitted for the SQL oracle (lang_id_oracle_sql).
    for i, lang in enumerate(langs):
        cond = F.lit(True)
        for other in langs:
            if other != lang:
                cond = cond & (F.col(f"hits_{lang}") >= F.col(f"hits_{other}"))
        expr = F.when(cond, lang) if expr is None else expr.when(cond, lang)
    return scored.withColumn(out, expr.otherwise(langs[0])).drop(
        *[f"hits_{lang}" for lang in langs]
    )


def lang_id_case_sql(text_expr: str = "text") -> str:
    """The oracle-SQL twin of ``with_lang_id`` (generated from the same
    lexicons so both engines compute the same function)."""
    w = f"regexp_split_to_array(lower(trim({text_expr})), '\\s+')"
    hits = {
        lang: f"len(list_filter({w}, t -> t IN ({', '.join(repr(v) for v in vocab)})))"
        for lang, vocab in LANG_STOPWORDS.items()
    }
    langs = list(LANG_STOPWORDS)
    cases = []
    for lang in langs:
        conds = " AND ".join(
            f"{hits[lang]} >= {hits[o]}" for o in langs if o != lang
        )
        cases.append(f"WHEN {conds} THEN '{lang}'")
    return "CASE " + " ".join(cases) + f" ELSE '{langs[0]}' END"


def with_quality_score(df: DataFrame, text_col: str = "text", out: str = "quality") -> DataFrame:
    """Composite quality score from length / stopword ratio / punctuation
    ratio (the classic pre-training quality heuristics). Deterministic
    double arithmetic, rounded to 6dp; SQL twin in quality_oracle_sql."""
    text = F.col(text_col)
    df = _with_words(df, text_col)
    words = F.col("_ws")
    n_tokens = F.size(words)
    n_chars = F.length(text)
    stop_hits = _hits(words, LANG_STOPWORDS["en"])
    punct = F.regexp_count(text, F.lit(PUNCT_PATTERN))
    length_score = F.least(n_chars.cast("double") / 500.0, F.lit(1.0))
    stop_ratio = stop_hits.cast("double") / F.greatest(n_tokens, F.lit(1)).cast("double")
    punct_ratio = punct.cast("double") / F.greatest(n_chars, F.lit(1)).cast("double")
    score = 0.3 * length_score + 0.4 * stop_ratio + 0.3 * (1.0 - punct_ratio)
    return (
        df.withColumn("n_tokens", n_tokens)
        .withColumn("stop_ratio", F.round(stop_ratio, 6))
        .withColumn("punct_ratio", F.round(punct_ratio, 6))
        .withColumn(out, F.round(score, 6))
        .drop("_ws")
    )


def quality_oracle_sql(table: str = "documents", text_expr: str = "text") -> str:
    w = f"regexp_split_to_array(lower(trim({text_expr})), '\\s+')"
    en = ", ".join(repr(v) for v in LANG_STOPWORDS["en"])
    return f"""
    SELECT doc_id,
           len({w}) AS n_tokens,
           ROUND(len(list_filter({w}, t -> t IN ({en})))::DOUBLE
                 / greatest(len({w}), 1), 6) AS stop_ratio,
           ROUND(len(regexp_extract_all({text_expr}, '{PUNCT_PATTERN}'))::DOUBLE
                 / greatest(length({text_expr}), 1), 6) AS punct_ratio,
           ROUND(0.3 * least(length({text_expr})::DOUBLE / 500.0, 1.0)
               + 0.4 * (len(list_filter({w}, t -> t IN ({en})))::DOUBLE
                        / greatest(len({w}), 1))
               + 0.3 * (1.0 - len(regexp_extract_all({text_expr}, '{PUNCT_PATTERN}'))::DOUBLE
                        / greatest(length({text_expr}), 1)), 6) AS quality
    FROM {table}
    """


def with_fingerprint(df: DataFrame, text_col: str = "text", out: str = "fingerprint") -> DataFrame:
    """Document fingerprint: md5 over whitespace-normalized lowercase text.
    (md5 is engine-portable; the rolling/minhash variants live in
    operators.dedup.)"""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return df.withColumn(out, F.md5(norm))


def with_sentiment(df: DataFrame, text_col: str = "text", out: str = "sentiment") -> DataFrame:
    """Deterministic lexicon sentiment polarity in [-1, 1]:
    (pos−neg)/(pos+neg+1) over word hits — the engine-portable stand-in for
    the reference's TextBlob polarity UDF (gold_war_etl_dag.py:134-139,
    null→0.0 preserved: empty text scores 0)."""
    df = _with_words(df, text_col)
    words = F.col("_ws")
    pos = _hits(words, POSITIVE_WORDS).cast("double")
    neg = _hits(words, NEGATIVE_WORDS).cast("double")
    return df.withColumn(out, F.round((pos - neg) / (pos + neg + 1.0), 6)).drop("_ws")


def sentiment_oracle_expr(text_expr: str = "text") -> str:
    w = f"regexp_split_to_array(lower(trim({text_expr})), '\\s+')"
    pos = ", ".join(repr(v) for v in POSITIVE_WORDS)
    neg = ", ".join(repr(v) for v in NEGATIVE_WORDS)
    p = f"len(list_filter({w}, t -> t IN ({pos})))::DOUBLE"
    n = f"len(list_filter({w}, t -> t IN ({neg})))::DOUBLE"
    return f"ROUND(({p} - {n}) / ({p} + {n} + 1.0), 6)"


# PII redaction patterns — written in the common subset of Java regex
# (Spark) and RE2 (DuckDB): character classes, bounded repeats, \b, \d
# only, so the exact same pattern string runs on both engines and the
# differential oracle can verify the scrub byte-for-byte. Order matters
# (SSN before phone: both match ddd-dd-dddd prefixes) and is fixed here.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
)


def scrub_pii(
    df: DataFrame, text_col: str = "text", out: str = "scrubbed"
) -> DataFrame:
    """Redact emails / SSNs / phone numbers from ``text_col`` into ``out``
    plus one ``n_<kind>`` match-count column per pattern.

    Training-data hygiene stage (north-star text analysis; the
    reference's closest analog is the keyword scan in
    Solutions/gold_war_etl_dag.py:93-97). Pure regexp_replace /
    regexp_count column algebra: JVM-side, whole-stage codegen, no
    Python in the hot path, trivially parallel — at 100 TB this is a
    map-only stage with zero shuffle. Counts are computed on the
    ORIGINAL text (before any replacement) so pattern overlap with the
    replacement tokens cannot occur."""
    c: Column = F.col(text_col)
    scrubbed = c
    for _kind, pat, repl in PII_PATTERNS:
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    out_df = df.withColumn(out, scrubbed)
    for kind, pat, _repl in PII_PATTERNS:
        out_df = out_df.withColumn(f"n_{kind}", F.regexp_count(c, F.lit(pat)))
    return out_df


# --- Fixed-size token-window chunking ----------------------------------------

def token_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 50,
    stride: int = 40,
) -> DataFrame:
    """Chunk each document into fixed ``size``-token windows every ``stride``
    tokens (overlap = size - stride) → (doc_id, chunk_id, n_tokens,
    chunk_hash). Every doc yields >= 1 chunk; the last chunk may be short;
    chunk_hash is md5 of the space-joined window (the join key for
    chunk-level dedup / provenance, so downstream never re-carries text).

    The context-window prep step of a training pipeline (documents >
    sequence length must be split, with overlap so no span is seen only at
    a boundary). Row-local by construction: split → per-row window count →
    explode chunk ids → slice — no shuffle at all, whatever the corpus
    size; chunk rows amplify the scan by ~n_tokens/stride, the unavoidable
    output size. Reference grounding: the course never chunks (pandas rows
    are short); this is the 100 TB training-data extension.
    """
    words = df.select(
        F.col(id_col), F.split(normalized_text(text_col), " ").alias("_ws")
    )
    n_chunks = F.lit(1) + F.ceil(
        F.greatest(F.size("_ws") - F.lit(size), F.lit(0)) / F.lit(stride)
    ).cast("int")
    chunks = words.select(
        F.col(id_col),
        F.col("_ws"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    ).select(
        F.col(id_col),
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.slice("_ws", F.col("chunk_id") * stride + 1, size).alias("_chunk"),
    )
    return chunks.select(
        id_col,
        "chunk_id",
        F.size("_chunk").cast("long").alias("n_tokens"),
        F.md5(F.concat_ws(" ", "_chunk")).alias("chunk_hash"),
    )


def token_chunks_oracle_sql(
    table: str = "documents",
    text_expr: str = "text",
    id_col: str = "doc_id",
    size: int = 50,
    stride: int = 40,
) -> str:
    """DuckDB twin of token_chunks (list_slice is begin/end-inclusive, so
    end = start + size - 1 mirrors Spark's slice(start, length))."""
    norm = f"regexp_replace(lower(trim({text_expr})), '\\s+', ' ', 'g')"
    return f"""
    WITH words AS (
        SELECT {id_col}, string_split({norm}, ' ') AS ws FROM {table}
    ),
    counted AS (
        SELECT {id_col}, ws,
               1 + CAST(ceil(greatest(len(ws) - {size}, 0) / {stride}.0) AS BIGINT)
                   AS n_chunks
        FROM words
    ),
    chunks AS (
        SELECT {id_col}, ws, unnest(range(0, n_chunks)) AS chunk_id FROM counted
    )
    SELECT {id_col}, chunk_id,
           len(list_slice(ws, chunk_id * {stride} + 1,
                          chunk_id * {stride} + {size})) AS n_tokens,
           md5(array_to_string(list_slice(ws, chunk_id * {stride} + 1,
                                          chunk_id * {stride} + {size}), ' '))
               AS chunk_hash
    FROM chunks
    """


# --- Sequence packing (concat-and-split) -------------------------------------

def pack_sequences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seq_len: int = 512,
    bucket_size: int = 1000,
) -> DataFrame:
    """Assign every doc a position in the packed token stream: docs are
    concatenated in ``id_col`` order and cut every ``seq_len`` tokens
    (GPT-style concat-and-split packing) → (doc_id, n_tokens, bin_id,
    bin_offset): the training sequence this doc starts in and where.

    The global running token count is a distributed prefix-sum, NOT a
    global sort: docs cumsum within ``id_col // bucket_size`` buckets
    (one shuffle, parallel across buckets), bucket totals — metadata-sized,
    one row per bucket — cumsum in a single tiny window, and the broadcast
    join-back adds the bucket offset. Deterministic under any
    partitioning; no stage ever holds a corpus-sized ordered partition.
    Reference grounding: no analog in the course (pandas never packs);
    this is the 100 TB training-data extension.
    """
    toks = df.select(
        F.col(id_col),
        F.size(F.split(normalized_text(text_col), " ")).cast("long").alias("n_tokens"),
        (F.col(id_col) / bucket_size).cast("long").alias("_bkt"),
    ).transform(lineage_cut)
    # three-long rows, one per doc — materialized once so the local cumsum
    # and the bucket-offset aggregate don't each compile their own corpus
    # tokenize (plan_audit detector 4)
    w_local = (
        Window.partitionBy("_bkt")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = toks.withColumn(
        "_local_before", F.sum("n_tokens").over(w_local) - F.col("n_tokens")
    )
    w_bkt = (
        Window.orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = (
        toks.groupBy("_bkt")
        .agg(F.sum("n_tokens").alias("_bkt_total"))
        .withColumn(
            "_bkt_before", F.sum("_bkt_total").over(w_bkt) - F.col("_bkt_total")
        )
        .select("_bkt", "_bkt_before")
    )
    cum = local.join(F.broadcast(offsets), "_bkt").withColumn(
        "_before", F.col("_bkt_before") + F.col("_local_before")
    )
    return cum.select(
        id_col,
        "n_tokens",
        F.floor(F.col("_before") / seq_len).alias("bin_id"),
        (F.col("_before") % seq_len).alias("bin_offset"),
    )


def pack_sequences_oracle_sql(
    table: str = "documents",
    text_expr: str = "text",
    id_col: str = "doc_id",
    seq_len: int = 512,
) -> str:
    """DuckDB twin of pack_sequences: one global window cumsum (the oracle
    may afford what the engine must not)."""
    norm = f"regexp_replace(lower(trim({text_expr})), '\\s+', ' ', 'g')"
    return f"""
    WITH toks AS (
        SELECT {id_col},
               len(string_split({norm}, ' '))::BIGINT AS n_tokens
        FROM {table}
    ),
    cum AS (
        SELECT {id_col}, n_tokens,
               SUM(n_tokens) OVER (ORDER BY {id_col}
                   ROWS UNBOUNDED PRECEDING) - n_tokens AS cum_before
        FROM toks
    )
    SELECT {id_col}, n_tokens,
           CAST(cum_before // {seq_len} AS BIGINT) AS bin_id,
           CAST(cum_before % {seq_len} AS BIGINT) AS bin_offset
    FROM cum
    """


def lexical_diversity(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc lexical diversity: type-token ratio and hapax fraction — the
    classic repetition/quality signals next to with_quality_score.

    Distributed shape: explode words → (doc, word) count → per-doc integer
    aggregate. Two shuffles, both on keys that grow with the corpus (doc_id,
    then doc_id again) — no skew pivot, no driver collection. All ratios are
    single IEEE divisions of exact integers, so results are bit-stable
    across partitionings and engines.
    """
    words = df.select(
        F.col(id_col),
        F.explode(_words(text_col)).alias("w"),
    )
    wc = words.groupBy(id_col, "w").agg(F.count(F.lit(1)).alias("c"))
    return wc.groupBy(id_col).agg(
        F.sum("c").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("n_hapax"),
        F.round(
            F.count(F.lit(1)).cast("double") / F.sum("c").cast("double"), 6
        ).alias("ttr"),
        F.round(
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("hapax_ratio"),
    )


def lexical_diversity_oracle_sql(
    table: str = "documents", text_expr: str = "text", id_col: str = "doc_id"
) -> str:
    """DuckDB twin of lexical_diversity (same tokenization as _words)."""
    w = f"regexp_split_to_array(lower(trim({text_expr})), '\\s+')"
    return f"""
    WITH words AS (
        SELECT {id_col} AS doc_id, unnest({w}) AS w FROM {table}
    ),
    wc AS (
        SELECT doc_id, w, COUNT(*) AS c FROM words GROUP BY doc_id, w
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_words,
           COUNT(*) AS n_distinct,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           ROUND(COUNT(*)::DOUBLE / SUM(c)::DOUBLE, 6) AS ttr,
           ROUND(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)::DOUBLE
                 / COUNT(*)::DOUBLE, 6) AS hapax_ratio
    FROM wc GROUP BY doc_id
    """


# --- Gopher-style quality rule gate -----------------------------------------
# The rule family from Rae et al. 2021 (Gopher, arXiv:2112.11446 §A1.1):
# word-count bounds, mean-word-length bounds, minimum stop-word evidence, and
# a repetition cap. Counts come from one explode + (doc, word) aggregate, and
# every rule is evaluated as an INTEGER comparison (3*n <= sum_len rather
# than sum_len/n >= 3.0), so the gate is bit-stable across engines and
# partitionings — no float boundary can flip a boolean.

GOPHER_STOPWORDS = ("the", "a", "of", "to", "and", "in")


def gopher_quality_gate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_len: int = 3,
    max_mean_len: int = 10,
    min_stopwords: int = 2,
    repetition_denom: int = 8,
) -> DataFrame:
    """Per-doc Gopher rule verdicts: each rule as an exact 0/1 column plus
    the conjunction. Distributed shape is identical to lexical_diversity
    (explode → (doc, word) count → per-doc aggregate): two shuffles on
    corpus-growing keys, no skew pivot, linear at any corpus size.

    ``repetition_denom=8`` enforces max single-word frequency <= 1/8 of the
    doc (Gopher's top-2-gram analogue for whitespace corpora).
    """
    words = df.select(F.col(id_col), F.explode(_words(text_col)).alias("w"))
    wc = words.groupBy(id_col, "w").agg(F.count(F.lit(1)).alias("c"))
    stats = wc.groupBy(id_col).agg(
        F.sum("c").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("max_word_count"),
        F.sum(F.col("c") * F.length("w")).alias("sum_len"),
        F.sum(
            F.when(F.col("w").isin(*GOPHER_STOPWORDS), 1).otherwise(0)
        ).alias("n_stopwords"),
    )
    ok_wc = (F.col("n_words") >= min_words) & (F.col("n_words") <= max_words)
    ok_len = (F.lit(min_mean_len) * F.col("n_words") <= F.col("sum_len")) & (
        F.col("sum_len") <= F.lit(max_mean_len) * F.col("n_words")
    )
    ok_stop = F.col("n_stopwords") >= min_stopwords
    ok_rep = F.lit(repetition_denom) * F.col("max_word_count") <= F.col("n_words")
    return stats.select(
        id_col,
        "n_words",
        "n_distinct",
        "max_word_count",
        "n_stopwords",
        F.round(F.col("sum_len").cast("double") / F.col("n_words"), 6).alias(
            "mean_word_len"
        ),
        ok_wc.cast("int").alias("ok_word_count"),
        ok_len.cast("int").alias("ok_mean_word_len"),
        ok_stop.cast("int").alias("ok_stopwords"),
        ok_rep.cast("int").alias("ok_repetition"),
        (ok_wc & ok_len & ok_stop & ok_rep).cast("int").alias("passes"),
    )


def gopher_gate_oracle_sql(
    table: str = "documents",
    text_expr: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_len: int = 3,
    max_mean_len: int = 10,
    min_stopwords: int = 2,
    repetition_denom: int = 8,
) -> str:
    """DuckDB twin of gopher_quality_gate (same tokenization, same integer
    rule algebra)."""
    w = f"regexp_split_to_array(lower(trim({text_expr})), '\\s+')"
    stoplist = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    return f"""
    WITH words AS (
        SELECT {id_col} AS doc_id, unnest({w}) AS w FROM {table}
    ),
    wc AS (
        SELECT doc_id, w, COUNT(*) AS c FROM words GROUP BY doc_id, w
    ),
    stats AS (
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_words,
               COUNT(*) AS n_distinct,
               MAX(c) AS max_word_count,
               CAST(SUM(c * len(w)) AS BIGINT) AS sum_len,
               CAST(SUM(CASE WHEN w IN ({stoplist}) THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_stopwords
        FROM wc GROUP BY doc_id
    )
    SELECT doc_id,
           n_words, n_distinct, max_word_count, n_stopwords,
           ROUND(sum_len::DOUBLE / n_words, 6) AS mean_word_len,
           CAST(n_words >= {min_words} AND n_words <= {max_words} AS INT)
               AS ok_word_count,
           CAST({min_mean_len} * n_words <= sum_len
                AND sum_len <= {max_mean_len} * n_words AS INT)
               AS ok_mean_word_len,
           CAST(n_stopwords >= {min_stopwords} AS INT) AS ok_stopwords,
           CAST({repetition_denom} * max_word_count <= n_words AS INT)
               AS ok_repetition,
           CAST(n_words >= {min_words} AND n_words <= {max_words}
                AND {min_mean_len} * n_words <= sum_len
                AND sum_len <= {max_mean_len} * n_words
                AND n_stopwords >= {min_stopwords}
                AND {repetition_denom} * max_word_count <= n_words AS INT)
               AS passes
    FROM stats
    """


# --- Vocabulary coverage / OOV rate ------------------------------------------


def oov_rate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 16,
) -> DataFrame:
    """Per-doc out-of-vocabulary rate against the corpus' own top-
    ``vocab_size`` tokens (ties: frequency DESC, token ASC): n_tokens,
    n_oov, oov_rate. The tokenizer-coverage signal — a doc whose tokens
    mostly fall outside the vocabulary will shatter into byte-fallback
    pieces and waste sequence length.

    Distributed shape: one token-count shuffle builds the frequency table;
    the top-k rank runs over that (vocabulary-sized, tiny) table only; the
    vocab BROADCASTS back onto the token stream as a left join; per-doc
    aggregate. The token stream itself never shuffles by token. At corpora
    where even DISTINCT tokens are huge, the rank stage becomes a partial
    per-partition top-k first (same refinement as the KMV sketch) — the
    broadcast contract downstream is unchanged.
    """
    from .dedup import normalized_text  # noqa: PLC0415 (cycle guard)

    words = df.select(
        F.col(id_col), F.explode(F.split(normalized_text(text_col), " ")).alias("_w")
    )
    # compress to (doc, token, count) ONCE and checkpoint: the vocab pass
    # and the scoring join each compiled their own corpus tokenize before
    # the cut (plan_audit detector 4 — the nb_lang/tfidf fix shape); both
    # are exact linear derivations of the tf table
    tf = (
        words.groupBy(id_col, "_w")
        .agg(F.count(F.lit(1)).alias("_c"))
        .transform(lineage_cut)
    )
    freq = tf.groupBy("_w").agg(F.sum("_c").alias("_cnt"))
    from .windows import take_ordered  # noqa: PLC0415 (cycle guard)

    # guarded top-k selection, not ranking: TakeOrderedAndProject below
    # the topKSortFallbackThreshold, blocked rank past it — the
    # distinct-token table never single-task sorts
    vocab = F.broadcast(
        take_ordered(
            freq, [F.col("_cnt").desc(), F.col("_w").asc()], vocab_size
        ).select("_w", F.lit(True).alias("_in_v"))
    )
    oov = F.sum(F.when(F.col("_in_v").isNull(), F.col("_c")).otherwise(0))
    return (
        tf.join(vocab, "_w", "left")
        .groupBy(id_col)
        .agg(
            F.sum("_c").alias("n_tokens"),
            oov.alias("n_oov"),
            F.round(oov.cast("double") / F.sum("_c"), 6).alias("oov_rate"),
        )
    )


def oov_rate_oracle_sql(
    table: str = "documents",
    text_expr: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 16,
) -> str:
    """DuckDB twin of oov_rate (same tie-break on the vocab cut)."""
    norm = f"regexp_replace(lower(trim({text_expr})), '\\s+', ' ', 'g')"
    return f"""
    WITH words AS (
        SELECT {id_col}, unnest(string_split({norm}, ' ')) AS w FROM {table}
    ),
    freq AS (SELECT w, COUNT(*) AS cnt FROM words GROUP BY w),
    vocab AS (
        SELECT w FROM (
            SELECT w, ROW_NUMBER() OVER (ORDER BY cnt DESC, w) AS vr FROM freq)
        WHERE vr <= {vocab_size}
    )
    SELECT {id_col},
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN vocab.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov,
           ROUND(SUM(CASE WHEN vocab.w IS NULL THEN 1 ELSE 0 END)::DOUBLE
                 / COUNT(*), 6) AS oov_rate
    FROM words LEFT JOIN vocab ON words.w = vocab.w
    GROUP BY {id_col}
    """


# --- BPE merge training (in-engine tokenizer induction) ----------------------
# Byte-Pair Encoding vocabulary induction (Sennrich et al. 2016): start from
# characters, repeatedly merge the most frequent adjacent symbol pair. The
# input is the word-frequency table — vocabulary-sized however big the
# corpus — so each round is one tiny distributed aggregate; the argmax pair
# is ONE bounded row collected per round (the repo's bounded-collect
# contract), and the merge applies as a row-local literal replace.


def _sym_array(word: Column) -> Column:
    """Character symbol array: 'key' -> ['k','e','y']."""
    return F.filter(F.split(word, ""), lambda x: x != "")


def _apply_merge(arr: Column, left: str, right: str) -> Column:
    """Greedy left-to-right non-overlapping application of one BPE merge
    (left, right) to a symbol array, as a row-local fold: append each
    symbol unless the accumulator's last symbol == left and the incoming
    symbol == right, in which case replace the last with left+right.
    The merged symbol left+right can never re-trigger the same merge
    (it differs from `left` because `right` is non-empty), so ONE fold is
    exactly Sennrich-style greedy application — including runs of a
    repeated symbol ('aaaaa' with (a,a) -> [aa, aa, a]), which the
    earlier literal-replace formulation grouped differently because each
    replace consumed the shared boundary."""
    return F.aggregate(
        arr,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.try_element_at(acc, F.lit(-1)) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(left + right))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


# DuckDB twin of _apply_merge: the same fold via list_reduce over a
# list-of-singleton-lists (so the accumulator type equals the element type,
# which DuckDB's list_reduce requires). `{l}`/`{r}` are SQL expressions for
# the merge pair; when they evaluate to NULL (an unrealized round on a small
# corpus) every comparison is NULL -> ELSE branch -> the fold is a no-op,
# matching the Spark loop's early break without any COALESCE guards.
_SQL_MERGE_FOLD = (
    "CASE WHEN len({a}) = 0 THEN {a} "
    "ELSE list_reduce(list_transform({a}, c -> [c]), "
    "(acc, x) -> CASE WHEN acc[-1] = {l} AND x[1] = {r} "
    "THEN acc[:len(acc)-1] || [{l} || {r}] "
    "ELSE acc || x END) END"
)


def bpe_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 6,
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merges over the corpus: returns
    (merge_rank, left_sym, right_sym, merged, pair_count), pair counts
    weighted by word frequency, ties broken (count DESC, left ASC,
    right ASC).

    Distributed shape per round: adjacent-pair explode over the
    WORD-FREQUENCY table (vocabulary-sized, not corpus-sized — the one
    tokenization pass that builds it is the only corpus-wide work), one
    (l, r) count aggregate, a 1-row argmax collect, then a row-local
    replace. Plans stay small because each round's table is the previous
    round's with one more string map."""
    from .dedup import normalized_text  # noqa: PLC0415 (cycle guard)

    merges = _bpe_learn(df, text_col, n_merges)
    return df.sparkSession.createDataFrame(
        merges,
        "merge_rank int, left_sym string, right_sym string, "
        "merged string, pair_count long",
    )


def _bpe_learn(
    df: DataFrame, text_col: str, n_merges: int, return_words: bool = False
):
    """The BPE learning loop shared by bpe_merges (reports the merges)
    and bpe_encode_stats (applies them). With ``return_words`` the
    fully-merged vocabulary table (w, cnt, a) comes back too — the loop
    has already applied every merge to every distinct word, so encoding
    a doc is a lookup, not a re-fold."""
    from .dedup import normalized_text  # noqa: PLC0415 (cycle guard)

    words = df.select(
        F.explode(F.split(normalized_text(text_col), " ")).alias("w")
    )
    wf = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    cur = wf.select("w", "cnt", _sym_array(F.col("w")).alias("a"))
    # The corpus-wide tokenize+count pass runs ONCE: the word-frequency
    # table is vocabulary-sized, so each round folds over a checkpointed
    # handful of rows instead of re-scanning the corpus per round.
    cur = cur.transform(lineage_cut)
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        sized = cur.select("cnt", "a").filter(F.size("a") >= 2)
        pairs = sized.select(
            "cnt",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("a") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("a"), i).alias("l"),
                        F.element_at(F.col("a"), i + 1).alias("r"),
                    ),
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy("p.l", "p.r")
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.col("c").desc(), "l", "r")
            .limit(1)
            .collect()
        )
        if not top:
            break
        l, r, c = top[0]["l"], top[0]["r"], int(top[0]["c"])
        merges.append((rank, l, r, l + r, c))
        cur = cur.withColumn("a", _apply_merge(F.col("a"), l, r))
    if return_words:
        return merges, cur
    return merges


def bpe_oracle_sql(
    table: str = "documents",
    text_expr: str = "text",
    n_merges: int = 6,
) -> str:
    """DuckDB twin of bpe_merges: the same rounds UNROLLED as chained CTEs
    (the perceptron-oracle pattern) — each level recomputes pair counts,
    picks the same argmax, and applies the same greedy list_reduce fold as
    the Spark _apply_merge. Unrealized rounds (small corpus exhausts the
    pairs early) leave t{k} empty -> the fold's NULL comparisons no-op ->
    the round contributes no UNION ALL row, matching Spark's loop break."""
    norm = f"regexp_replace(lower(trim({text_expr})), '\\s+', ' ', 'g')"
    ctes = [
        f"""wf AS MATERIALIZED (
        SELECT w, COUNT(*) AS cnt
        FROM (SELECT unnest(string_split({norm}, ' ')) AS w FROM {table})
        GROUP BY w)""",
        """w0 AS MATERIALIZED (
        SELECT w, cnt, list_filter(string_split(w, ''), x -> x <> '') AS a
        FROM wf)""",
    ]
    selects = []
    for k in range(1, n_merges + 1):
        prev = f"w{k - 1}"
        ctes.append(
            f"""p{k} AS MATERIALIZED (
        SELECT a[i] AS l, a[i + 1] AS r, SUM(cnt) AS c
        FROM (SELECT cnt, a, unnest(range(1, len(a))) AS i
              FROM {prev} WHERE len(a) >= 2)
        GROUP BY 1, 2)"""
        )
        ctes.append(f"t{k} AS MATERIALIZED (SELECT l, r, c FROM p{k} ORDER BY c DESC, l, r LIMIT 1)")
        fold = _SQL_MERGE_FOLD.format(a="a", l="mk.l", r="mk.r")
        ctes.append(
            f"""w{k} AS MATERIALIZED (
        SELECT w, cnt, {fold} AS a
        FROM {prev} LEFT JOIN t{k} mk ON TRUE)"""
        )
        selects.append(
            f"SELECT {k} AS merge_rank, l AS left_sym, r AS right_sym, "
            f"l || r AS merged, CAST(c AS BIGINT) AS pair_count FROM t{k}"
        )
    return "WITH " + ",\n    ".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


# --- Hashing-trick doc features (docs -> dense vectors, no model) ------------
# Weinberger et al. 2009: hash each token to one of d buckets with a +-1
# sign hash; the doc's feature vector is the signed bucket-count vector.
# Gives every document a dense fixed-width embedding with NO trained model
# — the bridge that lets the ANN / k-means / SemDeDup machinery run on raw
# text corpora. Components are exact integers (order-independent sums).


def hash_doc_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 64,
    salt: str = "feat",
    sign_salt: str = "sig",
) -> DataFrame:
    """(id, fv): dense ``dim``-wide signed hashed-unigram count vector per
    doc, plus ``nrm2`` (exact integer squared norm, for zero-vector
    filtering). One token pass -> (doc, bucket) integer sums -> per-doc
    dense assembly via a map lookup; no shuffle is corpus x dim wide."""
    from .dedup import normalized_text  # noqa: PLC0415
    from .sampling import hash_bucket  # noqa: PLC0415

    toks = df.select(
        F.col(id_col),
        F.explode(F.split(normalized_text(text_col), " ")).alias("_w"),
    )
    sign = F.when(
        (
            F.conv(F.substring(F.md5(F.concat(F.lit(sign_salt), F.col("_w"))), 1, 1), 16, 10)
            .cast("long")
            % 2
        )
        == 0,
        F.lit(1),
    ).otherwise(F.lit(-1))
    sums = (
        toks.select(
            F.col(id_col),
            hash_bucket(F.col("_w"), dim, salt).alias("_b"),
            sign.alias("_s"),
        )
        .groupBy(id_col, "_b")
        .agg(F.sum("_s").alias("_v"))
    )
    dense = sums.groupBy(id_col).agg(
        F.map_from_entries(F.collect_list(F.struct("_b", "_v"))).alias("_m")
    )
    fv = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: F.coalesce(F.element_at(F.col("_m"), j), F.lit(0)),
    )
    out = dense.select(F.col(id_col), fv.alias("fv"))
    nrm2 = F.aggregate(
        F.col("fv"), F.lit(0).cast("long"), lambda a, x: a + x * x
    )
    return out.withColumn("nrm2", nrm2)


def hash_features_sql(
    table: str = "documents",
    text_expr: str = "text",
    id_col: str = "doc_id",
    dim: int = 64,
    salt: str = "feat",
    sign_salt: str = "sig",
) -> str:
    """DuckDB twin of hash_doc_features as a FROM-able subquery:
    (id, fv, nrm2)."""
    from .sampling import hash_bucket_sql  # noqa: PLC0415

    norm = f"regexp_replace(lower(trim({text_expr})), '\\s+', ' ', 'g')"
    bucket = hash_bucket_sql("w", dim, salt)
    sign = (
        f"(CASE WHEN (strpos('0123456789abcdef', "
        f"substr(md5('{sign_salt}' || w), 1, 1)) - 1) % 2 = 0 "
        f"THEN 1 ELSE -1 END)"
    )
    return f"""
    (WITH toks AS (
        SELECT {id_col}, unnest(string_split({norm}, ' ')) AS w FROM {table}
    ),
    sums AS (
        SELECT {id_col}, {bucket} AS b, SUM({sign}) AS v
        FROM toks GROUP BY {id_col}, {bucket}
    ),
    dims AS (SELECT unnest(range(0, {dim})) AS b),
    dense AS (
        SELECT ids.{id_col},
               list(CAST(COALESCE(s.v, 0) AS BIGINT) ORDER BY dims.b) AS fv
        FROM (SELECT DISTINCT {id_col} FROM sums) ids
        CROSS JOIN dims
        LEFT JOIN sums s ON s.{id_col} = ids.{id_col} AND s.b = dims.b
        GROUP BY ids.{id_col}
    )
    SELECT {id_col}, fv,
           list_sum([fv[i] * fv[i] for i in range(1, {dim + 1})]) AS nrm2
    FROM dense)
    """


def bpe_encode_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = 6,
) -> DataFrame:
    """Train the first ``n_merges`` BPE merges, then ENCODE every document
    with them: (doc_id, n_chars, n_syms, compression_ratio) where n_chars
    is the symbol count before any merge (character count of the
    normalized words) and n_syms the count after applying all merges in
    rank order — the train-and-apply loop of tokenizer development, with
    the compression ratio as the quality signal.

    Merges never span word boundaries, so encoding is WORD-local — and
    the learn loop has already folded every merge over the (vocabulary-
    sized) word table. The encode is therefore a broadcast lookup: per
    distinct word, n_chars = its character count and n_syms = its final
    symbol count; per doc, both stats SUM over its word stream. One
    token pass, one broadcast join, zero per-doc folding (re-folding
    every doc token measured 6x slower at sf0.1)."""
    from .dedup import normalized_text  # noqa: PLC0415 (cycle guard)

    _, words_tbl = _bpe_learn(df, text_col, n_merges, return_words=True)
    wstats = F.broadcast(
        words_tbl.select(
            "w",
            F.size(_sym_array(F.col("w"))).cast("long").alias("_nc"),
            F.size("a").cast("long").alias("_ns"),
        )
    )
    docs = df.select(
        F.col(id_col),
        F.explode(F.split(normalized_text(text_col), " ")).alias("w"),
    )
    return (
        docs.join(wstats, "w")
        .groupBy(id_col)
        .agg(
            F.sum("_nc").alias("n_chars"),
            F.sum("_ns").alias("n_syms"),
        )
        .select(
            id_col,
            "n_chars",
            "n_syms",
            # try_divide: a doc whose text normalizes to EMPTY has
            # n_chars = 0 — ANSI division throws where the DuckDB twin
            # returns NULL; NULL-on-zero matches the oracle bit-for-bit
            # (found by the round-11 artifact property test)
            F.round(
                F.try_divide(F.col("n_syms").cast("double"), F.col("n_chars")),
                6,
            ).alias("compression_ratio"),
        )
    )


def _bpe_fold_words(
    docs: DataFrame,
    ranked: list[tuple[str, str]],
    text_col: str,
    checkpoint_every: int = 32,
) -> DataFrame:
    """Word table of ``docs`` with a FROZEN merge list applied: (w, a)
    where ``a`` is the symbol array after folding every merge in rank
    order. New words (unseen at train time) fold from characters exactly
    like unseen words at tokenizer inference. Plan depth is bounded: the
    fold chain is cut every ``checkpoint_every`` merges so a
    production-sized artifact (tens of thousands of merges) never builds
    an unboundedly nested column expression."""
    from .dedup import normalized_text  # noqa: PLC0415 (cycle guard)

    wt = (
        docs.select(
            F.explode(F.split(normalized_text(text_col), " ")).alias("w")
        )
        .distinct()
        .select("w", _sym_array(F.col("w")).alias("a"))
        .transform(lineage_cut)
    )
    for i, (left, right) in enumerate(ranked, 1):
        wt = wt.withColumn("a", _apply_merge(F.col("a"), left, right))
        if i % checkpoint_every == 0:
            wt = wt.transform(lineage_cut)
    return wt


def bpe_encode_with(
    docs: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Encode documents with a FROZEN merge table — the train-once →
    encode-many shape of a real tokenizer deployment (a tokenizer is
    trained once and applied for months; ``bpe_encode_stats`` retrains
    inside every run, which is the right shape for a self-contained gate
    query and the wrong one for a production pipeline).

    ``merges`` is the ``bpe_merges`` output (merge_rank, left_sym,
    right_sym, ...), typically time-traveled out of a versioned table
    (:func:`bpe_load_merges`). It is collected in rank order — bounded
    by the tokenizer's merge budget (the artifact is vocabulary-sized by
    construction, never corpus-sized) — then folded over the word table
    of the docs BEING ENCODED, so unseen words decompose from characters
    exactly as at train time and the encode itself stays one broadcast
    lookup join, zero per-doc folding.

    Output schema and values are bit-for-bit ``bpe_encode_stats`` when
    ``merges`` came from the same corpus (pinned by test)."""
    ranked = collect_ranked_merges(merges)
    return bpe_encode_with_ranked(docs, ranked, text_col, id_col)


def collect_ranked_merges(merges: DataFrame) -> list[tuple[str, str]]:
    """Driver-side snapshot of a merge table in rank order — bounded by
    the tokenizer's merge budget (artifact-sized, never corpus-sized).
    Collected ONCE per job; the streaming encode twin reuses the frozen
    list across every micro-batch instead of re-collecting per batch."""
    return [
        (r["left_sym"], r["right_sym"])
        for r in merges.select("merge_rank", "left_sym", "right_sym")
        .orderBy("merge_rank")
        .collect()
    ]


def bpe_encode_with_ranked(
    docs: DataFrame,
    ranked: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`bpe_encode_with` after the artifact collect — the shared
    core for batch encode and the per-micro-batch streaming encode."""
    from .dedup import normalized_text  # noqa: PLC0415 (cycle guard)

    wt = _bpe_fold_words(docs, ranked, text_col)
    wstats = F.broadcast(
        wt.select(
            "w",
            F.size(_sym_array(F.col("w"))).cast("long").alias("_nc"),
            F.size("a").cast("long").alias("_ns"),
        )
    )
    toks = docs.select(
        F.col(id_col),
        F.explode(F.split(normalized_text(text_col), " ")).alias("w"),
    )
    return (
        toks.join(wstats, "w")
        .groupBy(id_col)
        .agg(
            F.sum("_nc").alias("n_chars"),
            F.sum("_ns").alias("n_syms"),
        )
        .select(
            id_col,
            "n_chars",
            "n_syms",
            # try_divide: a doc whose text normalizes to EMPTY has
            # n_chars = 0 — ANSI division throws where the DuckDB twin
            # returns NULL; NULL-on-zero matches the oracle bit-for-bit
            # (found by the round-11 artifact property test)
            F.round(
                F.try_divide(F.col("n_syms").cast("double"), F.col("n_chars")),
                6,
            ).alias("compression_ratio"),
        )
    )


def bpe_save_merges(merges: DataFrame, path: str, fs=None) -> int:
    """Persist a trained merge table as the next version of a versioned
    table (operators/table.py): snapshot-isolated publish, time travel
    back to any committed tokenizer version — retraining NEVER mutates
    the artifact a running encode job is reading. Returns the committed
    version number."""
    from .table import write_table_version  # noqa: PLC0415

    return write_table_version(merges, path, fs=fs)


def bpe_load_merges(spark, path: str, version: int | None = None, fs=None):
    """Read a committed tokenizer artifact (default: newest committed
    version; pass ``version`` for time travel — e.g. to re-encode a
    corpus exactly as a months-old training run saw it)."""
    from .table import read_table  # noqa: PLC0415

    return read_table(spark, path, version=version, fs=fs)


def bpe_encode_oracle_sql(
    table: str = "documents",
    text_expr: str = "text",
    id_col: str = "doc_id",
    n_merges: int = 6,
) -> str:
    """DuckDB twin of bpe_encode_stats: the bpe_oracle_sql CTE chain
    (same learned merges, same greedy folds — already applied to every
    distinct word by the last w{{k}} CTE) joined onto the doc word
    stream; rounds the corpus never realized have empty t{{k}} and fold
    as no-ops on the word table, exactly as in the Spark loop."""
    norm = f"regexp_replace(lower(trim({text_expr})), '\\s+', ' ', 'g')"
    base = bpe_oracle_sql(table=table, text_expr=text_expr, n_merges=n_merges)
    # reuse the trained CTE chain; strip its final SELECT (the merges
    # report) and append the word-lookup encode instead
    with_block = base[: base.rindex("SELECT 1 AS merge_rank")]
    # the WITH block ends with the last w{n} CTE followed by the first
    # union SELECT; rindex above cut at the first SELECT of the union.
    return f"""{with_block.rstrip()},
    dw AS (
        SELECT {id_col}, unnest(string_split({norm}, ' ')) AS w
        FROM {table}),
    wstats AS (
        SELECT w,
               len(list_filter(string_split(w, ''), x -> x <> '')) AS nc,
               len(a) AS ns
        FROM w{n_merges})
    SELECT dw.{id_col},
           CAST(SUM(nc) AS BIGINT) AS n_chars,
           CAST(SUM(ns) AS BIGINT) AS n_syms,
           ROUND(CAST(SUM(ns) AS DOUBLE)
                 / CAST(SUM(nc) AS BIGINT), 6) AS compression_ratio
    FROM dw JOIN wstats USING (w)
    GROUP BY dw.{id_col}
    """


# --- Source-distribution drift (total-variation distance) --------------------
# Mixture monitoring for a multi-source corpus: how far each source's unigram
# token distribution sits from the corpus-wide distribution. KL needs logs
# (engine-specific transcendental rounding); TOTAL VARIATION distance is
# rational — TV(s, corpus) = sum_t |c_st*N_c - c_t*N_s| / (2*N_s*N_c) — so the
# numerator is an EXACT integer sum and only ONE final division is IEEE.
# Tokens absent from a source contribute c_t*N_s each; rather than outer-join
# the sparse matrix, that tail is closed-form: N_s*(N_c - sum_{t in s} c_t).


def source_tv_drift(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-source total-variation distance between the source's token
    distribution and the corpus distribution: (source, n_tokens,
    tv_vs_corpus). Drift gate for mixture rebalancing — a source whose TV
    jumps between waves changed its content mix.

    Distributed shape: one (source, token) count shuffle; corpus counts
    re-aggregate FROM that table (never a second pass over the text); the
    per-source totals broadcast back. Only the final ratio is a double.
    Overflow bound: c_st*N_c must fit int64 — beyond ~1e9-token corpora
    lift the two products to DECIMAL(38,0) (exactness is preserved; the
    shape is unchanged).

    ``st`` is materialized once (localCheckpoint): it feeds FOUR
    consumers (the self-join plus the ct/ns/nc re-aggregates), and
    without the cut Catalyst compiled four independent scan+tokenize
    subtrees (measured: 4 FileScans, 0 ReusedExchange — the corpus-wide
    explode ran four times; the round-11 bench triage caught it as a
    2x wall inflation). The checkpointed table is vocab x sources
    sized — bounded by content, not corpus rows — so the cut is cheap
    at any scale and the corpus text is read exactly once."""
    st = source_token_counts(df, text_col).transform(lineage_cut)
    return tv_drift_from_counts(st)


def source_token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The (source, _w, c_st) token-count table source_tv_drift runs on
    — exposed because the counts are MERGEABLE (plain integer sums), so
    per-wave/per-micro-batch partials summed per (source, token) equal
    the one-shot table exactly; the streaming TV monitor lands these."""
    from .dedup import normalized_text  # noqa: PLC0415 (cycle guard)

    return (
        df.select(
            F.col("source"),
            F.explode(F.split(normalized_text(text_col), " ")).alias("_w"),
        )
        .filter(F.col("_w") != "")
        .groupBy("source", "_w")
        .agg(F.count(F.lit(1)).alias("c_st"))
    )


def tv_drift_from_counts(st: DataFrame) -> DataFrame:
    """TV distance report from an ALREADY-MATERIALIZED (source, _w,
    c_st) count table (the four-consumer tail of source_tv_drift —
    callers must pass a checkpointed/summed table, or the upstream plan
    compiles once per consumer; the batch operator and the streaming
    monitor's merged read both do)."""
    ct = st.groupBy("_w").agg(F.sum("c_st").alias("c_t"))
    ns = st.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    nc = st.agg(F.sum("c_st").alias("n_c"))
    num = F.sum(F.abs(F.col("c_st") * F.col("n_c") - F.col("c_t") * F.col("n_s")))
    present = F.sum(F.col("c_t"))
    return (
        st.join(ct, "_w")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(nc))
        .groupBy("source", "n_s", "n_c")
        .agg(num.alias("_num"), present.alias("_present_ct"))
        .select(
            "source",
            F.col("n_s").alias("n_tokens"),
            F.round(
                (
                    F.col("_num")
                    + F.col("n_s") * (F.col("n_c") - F.col("_present_ct"))
                ).cast("double")
                / (F.lit(2) * F.col("n_s") * F.col("n_c")).cast("double"),
                6,
            ).alias("tv_vs_corpus"),
        )
    )


def source_tv_drift_oracle_sql(
    table: str = "documents", text_expr: str = "text"
) -> str:
    """DuckDB twin of source_tv_drift (same closed-form absent-token tail,
    same single final division)."""
    norm = f"regexp_replace(lower(trim({text_expr})), '\\s+', ' ', 'g')"
    return f"""
    WITH toks AS (
        SELECT source, unnest(string_split({norm}, ' ')) AS w FROM {table}
    ),
    st AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c_st
           FROM toks WHERE w <> '' GROUP BY 1, 2),
    ct AS (SELECT w, CAST(SUM(c_st) AS BIGINT) AS c_t FROM st GROUP BY 1),
    ns AS (SELECT source, CAST(SUM(c_st) AS BIGINT) AS n_s FROM st GROUP BY 1),
    nc AS (SELECT CAST(SUM(c_st) AS BIGINT) AS n_c FROM st)
    SELECT st.source,
           ns.n_s AS n_tokens,
           ROUND(CAST(CAST(SUM(ABS(st.c_st * nc.n_c - ct.c_t * ns.n_s))
                           AS BIGINT)
                      + ns.n_s * (nc.n_c - CAST(SUM(ct.c_t) AS BIGINT))
                      AS DOUBLE)
                 / CAST(2 * ns.n_s * nc.n_c AS DOUBLE), 6) AS tv_vs_corpus
    FROM st JOIN ct ON st.w = ct.w
    JOIN ns ON st.source = ns.source
    CROSS JOIN nc
    GROUP BY st.source, ns.n_s, nc.n_c
    """


# --- Cross-source quality calibration (quantile normalization) ---------------
# Heuristic quality scores are not comparable across sources (a forum's
# median doc scores lower than an encyclopedia's for reasons other than
# usefulness); mixing sources by RAW score over-prunes whole sources. The
# standard fix is quantile normalization: map each doc to the GLOBAL score
# at its within-source quantile position. Selection-based (no
# interpolation), mirroring the repo's lower-median discipline, so the
# calibrated scores are exact multiset members and hash-gate cleanly.


def quality_quantile_calibrate(
    df: DataFrame,
    score_col: str = "quality",
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, group, score, src_rank, calibrated): each doc's within-source
    rank r (score, id order), mapped to the global sorted score at
    position ceil(r * N / n_src) — pure integer rank arithmetic plus one
    selection, no interpolation.

    Plan: one per-source window (partitioned — scale-safe) + one
    TWO-LEVEL BLOCKED global rank (windows.blocked_row_number: the corpus
    never single-task sorts; ranks are total-order exact over
    (score, id), so the ROW_NUMBER oracle twin is byte-identical) + a
    rank-keyed join."""
    from pyspark.sql import Window as W  # noqa: PLC0415

    from .windows import blocked_row_number  # noqa: PLC0415

    # corpus total as an in-plan broadcast 1-row aggregate: the old
    # df.count() was a separate full pass over the SCORED frame (the
    # quality scorer executed once extra) for a value the rank arithmetic
    # only needs as a long scalar
    n_total = df.agg(F.count(F.lit(1)).alias("_ntot"))
    ws = W.partitionBy(group_col).orderBy(score_col, id_col)
    ranked = df.select(
        F.col(id_col),
        F.col(group_col),
        F.col(score_col),
        F.row_number().over(ws).alias("src_rank"),
        F.count(F.lit(1)).over(W.partitionBy(group_col)).alias("_n_src"),
    ).crossJoin(F.broadcast(n_total))
    # ceil(r*N / n_src) in exact integer arithmetic — SQL `div` on longs,
    # never `/`: double division drifts past 2^53 and can pick a
    # different selection member than the oracle's integer `//`.
    target = F.expr("(src_rank * _ntot + _n_src - 1) div _n_src")
    glob = blocked_row_number(
        df.select(
            F.col(score_col).alias("_gscore"), F.col(id_col).alias("_gid")
        ),
        ["_gscore", "_gid"],
        rank_col="_grank",
    ).select("_gscore", "_grank")
    return (
        ranked.withColumn("_target", target)
        .join(glob, F.col("_target") == F.col("_grank"))
        .select(
            id_col,
            group_col,
            score_col,
            "src_rank",
            F.col("_gscore").alias("calibrated"),
        )
    )


def quantile_calibrate_sql(
    table: str = "documents",
    score_sql: str | None = None,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of quality_quantile_calibrate over a scored subquery
    (``score_sql`` defaults to the quality_oracle_sql scorer)."""
    if score_sql is None:
        inner = quality_oracle_sql(table=table)
        score_sql = (
            f"(SELECT s.{id_col}, t.{group_col}, s.quality"
            f" FROM ({inner}) s JOIN {table} t ON s.{id_col} = t.{id_col})"
        )
    return f"""
    WITH scored AS (SELECT * FROM {score_sql} sc),
    ranked AS (
        SELECT {id_col}, {group_col}, quality,
               ROW_NUMBER() OVER (PARTITION BY {group_col}
                                  ORDER BY quality NULLS FIRST,
                                           {id_col}) AS src_rank,
               COUNT(*) OVER (PARTITION BY {group_col}) AS n_src,
               COUNT(*) OVER () AS n_total
        FROM scored
    ),
    gq AS (
        SELECT quality AS gscore,
               ROW_NUMBER() OVER (ORDER BY quality NULLS FIRST, {id_col})
                   AS grank
        FROM scored
    )
    SELECT {id_col}, {group_col}, quality,
           CAST(src_rank AS BIGINT) AS src_rank,
           gscore AS calibrated
    FROM ranked JOIN gq
      ON ((src_rank * n_total + n_src - 1) // n_src) = grank
    """


# --- Sliding-window chunking (RAG / context-window prep) ---------------------
# doc_token_chunks slices disjoint windows; retrieval pipelines overlap them
# (stride < window) so no answer span straddles a boundary unseen. Chunk
# identity is the md5 of the joined tokens — the digest a retrieval index
# dedups and addresses by.


def sliding_token_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 64,
    stride: int = 32,
) -> DataFrame:
    """(id, chunk_idx, n_tokens, chunk_hash) for half-open token windows
    [idx*stride, idx*stride + window): every doc emits
    1 + ceil(max(n - window, 0) / stride) chunks (the final chunk may be
    short; a doc shorter than one window emits exactly one chunk).
    Row-local explode — no shuffle at all until a consumer aggregates.
    ``stride`` must not exceed ``window`` (a larger stride would silently
    skip tokens between chunks — never what a retrieval index wants)."""
    if stride > window or stride < 1:
        raise ValueError(
            f"stride must be in [1, window]; got stride={stride}, "
            f"window={window}"
        )
    from .dedup import normalized_text  # noqa: PLC0415 (cycle guard)

    words = df.select(
        F.col(id_col), F.split(normalized_text(text_col), " ").alias("_ws")
    )
    n = F.size("_ws")
    extra = F.greatest(n - window, F.lit(0))
    last = ((extra + stride - 1) / stride).cast("int")
    idx = F.sequence(F.lit(0), last)
    chunks = words.select(
        F.col(id_col),
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    i.alias("chunk_idx"),
                    F.slice(F.col("_ws"), i * stride + 1, window).alias("_c"),
                ),
            )
        ).alias("_ch"),
    )
    return chunks.select(
        id_col,
        F.col("_ch.chunk_idx").alias("chunk_idx"),
        F.size("_ch._c").cast("long").alias("n_tokens"),
        F.md5(F.array_join("_ch._c", " ")).alias("chunk_hash"),
    )


def sliding_chunks_sql(
    table: str = "documents",
    text_expr: str = "text",
    id_col: str = "doc_id",
    window: int = 64,
    stride: int = 32,
) -> str:
    """DuckDB twin of sliding_token_chunks (same half-open windows, same
    md5 chunk identity)."""
    norm = f"regexp_replace(lower(trim({text_expr})), '\\s+', ' ', 'g')"
    return f"""
    WITH words AS (
        SELECT {id_col}, string_split({norm}, ' ') AS ws FROM {table}
    ),
    idx AS (
        SELECT {id_col}, ws,
               unnest(range(0, 1 + (greatest(len(ws) - {window}, 0)
                                    + {stride} - 1) // {stride})) AS i
        FROM words
    )
    SELECT {id_col},
           CAST(i AS INT) AS chunk_idx,
           CAST(len(ws[i * {stride} + 1 : i * {stride} + {window}]) AS BIGINT)
               AS n_tokens,
           md5(array_to_string(
               ws[i * {stride} + 1 : i * {stride} + {window}], ' '))
               AS chunk_hash
    FROM idx
    """


# --- Sentence-level language consistency -------------------------------------
# A doc whose labeled language disagrees with the majority of its
# SENTENCES is either mislabeled or code-mixed — both are filter signals a
# doc-level lang-id misses (the doc-level vote drowns a 40% minority
# language). Reuses the stopword-hit CASE chain of with_lang_id per
# sentence, so both engines classify sentences with literally the same
# function.


def lang_consistency(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str = "lang",
) -> DataFrame:
    """(id, lang, n_sentences, majority_lang, n_majority, consistent):
    split into sentences on [.!?]+, classify each with the stopword
    lang-id, majority-vote (ties: count DESC, lang ASC), compare to the
    label. Docs with no non-empty sentence emit no row."""
    sents = df.select(
        F.col(id_col),
        F.col(label_col),
        F.explode(F.split(F.col(text_col), r"[.!?]+")).alias("_s"),
    ).filter(F.length(F.trim("_s")) > 0)
    tagged = with_lang_id(sents, text_col="_s", out="_sl")
    counts = tagged.groupBy(id_col, label_col, "_sl").agg(
        F.count(F.lit(1)).alias("_c")
    )
    from .windows import topk_per_group  # noqa: PLC0415

    totals = counts.groupBy(id_col, label_col).agg(
        F.sum("_c").alias("n_sentences")
    )
    best = topk_per_group(
        counts,
        [id_col],
        [F.col("_c").desc(), F.col("_sl").asc()],
        k=1,
        rank_col="_r",
    )
    return (
        totals.join(
            best.select(
                id_col,
                F.col("_sl").alias("majority_lang"),
                F.col("_c").alias("n_majority"),
            ),
            id_col,
        )
        .select(
            id_col,
            F.col(label_col),
            F.col("n_sentences").cast("long").alias("n_sentences"),
            "majority_lang",
            F.col("n_majority").cast("long").alias("n_majority"),
            (F.col("majority_lang") == F.col(label_col)).alias("consistent"),
        )
    )


def lang_consistency_sql(
    table: str = "documents",
    text_expr: str = "text",
    id_col: str = "doc_id",
    label_col: str = "lang",
) -> str:
    """DuckDB twin of lang_consistency (same sentence split, same CASE
    chain, same majority tie order)."""
    case = lang_id_case_sql("s")
    return f"""
    WITH sents AS (
        SELECT {id_col}, {label_col}, s
        FROM (SELECT {id_col}, {label_col},
                     unnest(regexp_split_to_array({text_expr}, '[.!?]+')) AS s
              FROM {table})
        WHERE length(trim(s)) > 0
    ),
    tagged AS (SELECT {id_col}, {label_col}, ({case}) AS sl FROM sents),
    counts AS (
        SELECT {id_col}, {label_col}, sl, COUNT(*) AS c
        FROM tagged GROUP BY 1, 2, 3
    ),
    totals AS (
        SELECT {id_col}, {label_col}, CAST(SUM(c) AS BIGINT) AS n_sentences
        FROM counts GROUP BY 1, 2
    ),
    best AS (
        SELECT {id_col}, sl AS majority_lang, CAST(c AS BIGINT) AS n_majority
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY {id_col}
                         ORDER BY c DESC, sl) AS r FROM counts)
        WHERE r = 1
    )
    SELECT t.{id_col}, t.{label_col}, n_sentences, majority_lang, n_majority,
           (majority_lang = t.{label_col}) AS consistent
    FROM totals t JOIN best USING ({id_col})
    """
