"""Unit tests for operator modules against small inline frames."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_pipelines_cu_spark.operators import cleaning, filters, joins, windows
from data_pipelines_cu_spark.sources import generators


def test_trim_and_normalize(spark):
    df = spark.createDataFrame(
        [("  Alice ", " x@y.z ")], ["Full Name", "Email Addr"]
    )
    out = cleaning.trim_strings(cleaning.normalize_column_names(df))
    assert out.columns == ["full_name", "email_addr"]
    row = out.first()
    assert row.full_name == "Alice" and row.email_addr == "x@y.z"


def test_cast_with_reject(spark):
    df = spark.createDataFrame(
        [("1", "9.5"), ("oops", "2.0"), (None, "3.0")], ["id", "price"]
    )
    ok, bad = cleaning.cast_with_reject(df, {"id": "int", "price": "double"})
    ok_rows = ok.collect()
    # null id passes the cast check (cast of null is null, not a failure)
    assert {r.id for r in ok_rows} == {1, None}
    assert [r.id for r in bad.collect()] == ["oops"]
    assert dict(ok.dtypes)["price"] == "double"


def test_validate_split(spark):
    df = spark.createDataFrame(
        [(1, "a"), (None, "b"), (2, None)], ["id", "name"]
    )
    valid, quarantine = filters.validate_split(df, ["id", "name"])
    assert valid.count() == 1
    assert quarantine.count() == 2


def test_truncate_strings(spark):
    df = spark.createDataFrame([("x" * 300,)], ["title"])
    out = cleaning.truncate_strings(df, {"title": 200})
    assert len(out.first().title) == 200


def test_upsert_replaces_matching_keys(spark):
    existing = spark.createDataFrame([("h1", 1.0), ("h2", 2.0)], ["hour", "v"])
    new = spark.createDataFrame([("h2", 99.0), ("h3", 3.0)], ["hour", "v"])
    out = joins.upsert(existing, new, ["hour"]).collect()
    got = {r.hour: r.v for r in out}
    assert got == {"h1": 1.0, "h2": 99.0, "h3": 3.0}


def test_asof_join_basic(spark):
    left = spark.createDataFrame(
        [("s", 10, "L1"), ("s", 20, "L2"), ("s", 5, "L0")], ["sym", "t", "l"]
    )
    right = spark.createDataFrame(
        [("s", 8, 100.0), ("s", 15, 200.0)], ["sym", "t", "px"]
    )
    out = joins.asof_join(left, right, on_time="t", by=["sym"])
    got = {r.t: r.r_px for r in out.collect()}
    # t=5: no right row yet → null; t=10: px@8; t=20: px@15
    assert got == {5: None, 10: 100.0, 20: 200.0}


def test_asof_join_exact_ts_and_tolerance(spark):
    left = spark.createDataFrame([("s", 15, "L")], ["sym", "t", "l"])
    right = spark.createDataFrame([("s", 15, 1.0), ("s", 2, 9.0)], ["sym", "t", "px"])
    out = joins.asof_join(left, right, on_time="t", by=["sym"])
    assert out.first().r_px == 1.0  # exact-ts right row visible (<=)
    out2 = joins.asof_join(
        left.withColumn("t", F.col("t").cast("long")),
        right.filter(F.col("t") == 2).withColumn("t", F.col("t").cast("long")),
        on_time="t",
        by=["sym"],
        tolerance="10",
    )
    assert out2.first().r_px is None  # match at t=2 older than 15-10


def test_first_last_in_bucket(spark):
    df = spark.createDataFrame(
        [("b", 1, 10.0), ("b", 3, 30.0), ("b", 2, 20.0)], ["k", "t", "v"]
    )
    out = windows.first_last_in_bucket(df, ["k"], "v", "t").collect()
    assert all(r.first_v == 10.0 and r.last_v == 30.0 for r in out)


def test_generate_events_deterministic(spark):
    a = generators.generate_events(spark, "2024-01-01", "2024-01-04", seed=7)
    b = generators.generate_events(spark, "2024-01-01", "2024-01-04", seed=7)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    per_day = {r.date: r["count"] for r in a.groupBy("date").count().collect()}
    assert set(per_day) == {"2024-01-01", "2024-01-02", "2024-01-03"}
    assert all(5 <= n <= 15 for n in per_day.values())
    types = {r.event_type for r in a.select("event_type").distinct().collect()}
    assert types <= set(generators.EVENT_TYPES)


def test_generate_minute_ticks_shape(spark):
    t = generators.generate_minute_ticks(spark, "2024-02-01")
    assert t.count() == 1440
    assert t.select(F.min("price_float"), F.max("price_float")).first()[0] > 0


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    """IVF is approximate by design; assert it still finds a solid fraction
    of the true top-5 at the default 8-cells/2-probe config."""
    from data_pipelines_cu_spark.catalog import load_table
    from data_pipelines_cu_spark.operators import similarity as sim

    em = load_table(spark, sf_dir, "embeddings")
    queries = em.filter(F.col("vec_id") < 10)
    truth = {
        (r.query_id, r.neighbor_id)
        for r in sim.cosine_topk(em, queries, k=5).collect()
    }

    def recall(lloyd_iters):
        approx = {
            (r.query_id, r.neighbor_id)
            for r in sim.cosine_topk_ivf(
                em, queries, k=5, n_centroids=8, n_probe=2, lloyd_iters=lloyd_iters
            ).collect()
        }
        return len(truth & approx) / len(truth)

    refined = recall(2)
    assert refined >= 0.4, f"IVF recall@5 collapsed: {refined:.2f}"
    # Lloyd-refined centroids must not lose recall vs the raw lowest-id
    # seeds (they generally gain: cells cover the space instead of
    # clustering around whichever vectors had the lowest ids).
    assert refined >= recall(0) - 0.1


def test_random_hyperplane_buckets_balanced(spark, sf_dir):
    """On embeddings whose leading dimensions are correlated (here: made
    non-negative, as activation-style embeddings often are), the axis-aligned
    sign pattern collapses every vector into one bucket; seeded random
    hyperplanes mix ALL dimensions into each bit and must stay spread —
    largest-bucket occupancy is the recall/throughput killer at scale."""
    from data_pipelines_cu_spark.catalog import load_table
    from data_pipelines_cu_spark.operators import similarity as sim

    em = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            "embedding", lambda x, i: F.when(i < 8, F.abs(x)).otherwise(x)
        ).alias("embedding"),
    )
    n = em.count()

    def max_share(bucket_col):
        counts = em.select(bucket_col.alias("b")).groupBy("b").count().collect()
        return max(r["count"] for r in counts) / n, len(counts)

    axis_share, axis_buckets = max_share(sim.sign_lsh_bucket(F.col("embedding"), 8))
    rand_share, rand_buckets = max_share(
        sim.random_hyperplane_bucket(F.col("embedding"))
    )
    assert axis_buckets == 1  # the failure mode: all vectors share one bucket
    assert rand_buckets > 50
    assert rand_share < 0.25, f"largest bucket holds {rand_share:.0%} of vectors"


def test_multiprobe_lsh_recall_dominates_single_probe(spark, sf_dir):
    """Hamming-radius-1 probing must recover at least every pair the
    single-probe variant finds, and typically more of the true top-k."""
    from data_pipelines_cu_spark.catalog import load_table
    from data_pipelines_cu_spark.operators import similarity as sim

    em = load_table(spark, sf_dir, "embeddings")
    queries = em.filter(F.col("vec_id") < 10)
    truth = {
        (r.query_id, r.neighbor_id)
        for r in sim.cosine_topk(em, queries, k=5).collect()
    }
    single = {
        (r.query_id, r.neighbor_id)
        for r in sim.cosine_topk_lsh(em, queries, k=5).collect()
    }
    multi = {
        (r.query_id, r.neighbor_id)
        for r in sim.cosine_topk_lsh_multiprobe(em, queries, k=5).collect()
    }
    # every single-probe candidate set is a subset of the multi-probe set,
    # so found-true-pairs can only grow
    assert len(multi & truth) >= len(single & truth)
    assert len(multi) >= len(single)


def test_hyperplanes_deterministic():
    from data_pipelines_cu_spark.operators import similarity as sim

    a = sim.seeded_hyperplanes()
    b = sim.seeded_hyperplanes()
    assert a == b
    assert {w for plane in a for w in plane} == {1.0, -1.0}
    # planes differ from each other (md5 mixing, not a constant pattern)
    assert len({tuple(p) for p in a}) == len(a)


def test_scrub_pii_positive_path(spark):
    from data_pipelines_cu_spark.operators import text as tx

    df = spark.createDataFrame(
        [
            (1, "mail a@b.co then call 555-123-4567 or ssn 123-45-6789"),
            (2, "clean row, nothing to redact"),
            (3, "two mails x@y.io y@z.org and 999-88-7777"),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r
        for r in tx.scrub_pii(df, "text").orderBy("doc_id").collect()
    }
    assert rows[1]["scrubbed"] == "mail <EMAIL> then call <PHONE> or ssn <SSN>"
    assert (rows[1]["n_email"], rows[1]["n_ssn"], rows[1]["n_phone"]) == (1, 1, 1)
    assert rows[2]["scrubbed"] == "clean row, nothing to redact"
    assert (rows[2]["n_email"], rows[2]["n_ssn"], rows[2]["n_phone"]) == (0, 0, 0)
    assert rows[3]["scrubbed"] == "two mails <EMAIL> <EMAIL> and <SSN>"
    assert rows[3]["n_email"] == 2 and rows[3]["n_ssn"] == 1


def test_contamination_hits_inline(spark):
    from data_pipelines_cu_spark.operators import dedup as dd

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], ["doc_id", "text"]
    )
    corpus = spark.createDataFrame(
        [
            (1, "something about the quick brown fox here"),  # shares 2 trigrams +
            (2, "entirely different words only"),
            (3, "QUICK  brown fox jumps twice quick brown fox jumps"),  # normalized hit
        ],
        ["doc_id", "text"],
    )
    hits = {r.doc_id: r.n_shared_grams for r in dd.contamination_hits(corpus, bench).collect()}
    assert 2 not in hits  # clean doc never surfaces
    # doc 1 shares: "the quick brown", "quick brown fox" → 2 distinct
    assert hits[1] == 2
    # doc 3: normalization lowercases/collapses; repeated grams counted once;
    # shared set = {quick brown fox, brown fox jumps}
    assert hits[3] == 2


def test_incremental_dedup_batch_and_index(spark):
    from data_pipelines_cu_spark.operators import dedup as dd

    index = spark.createDataFrame([(0, "known doc")], ["doc_id", "text"])
    incoming = spark.createDataFrame(
        [
            (10, "Known   DOC"),      # dup of index after normalization
            (11, "fresh content"),
            (12, "fresh content"),    # in-batch dup, loses to 11
            (13, "other fresh"),
        ],
        ["doc_id", "text"],
    )
    out = dd.incremental_dedup(incoming, index)
    assert {r.doc_id for r in out.collect()} == {11, 13}


def test_token_chunks_shapes(spark):
    from data_pipelines_cu_spark.operators import text as tx

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(130))),  # 3 chunks: 50/50/50
            (2, "tiny doc"),                              # 1 short chunk
            (3, " ".join(f"w{i}" for i in range(90))),    # 2 chunks: 50/50
        ],
        ["doc_id", "text"],
    )
    out = tx.token_chunks(docs, size=50, stride=40).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_id, r.n_tokens))
    assert sorted(by_doc[1]) == [(0, 50), (1, 50), (2, 50)]
    assert sorted(by_doc[2]) == [(0, 2)]
    assert sorted(by_doc[3]) == [(0, 50), (1, 50)]
    # overlap: chunk 1 of doc 3 starts at token 41 → both chunks cover 41..50
    # (verified structurally by n_tokens; hash identity is the oracle's job)


def test_quota_sample_stability(spark):
    from data_pipelines_cu_spark.operators import sampling as smp

    rows = [(i, "en" if i % 3 else "de") for i in range(60)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    a = smp.quota_sample(df, "lang", "doc_id", n_per_group=5)
    b = smp.quota_sample(df.repartition(7), "lang", "doc_id", n_per_group=5)
    sa = sorted((r.lang, r.doc_id, r.rk) for r in a.collect())
    sb = sorted((r.lang, r.doc_id, r.rk) for r in b.collect())
    assert sa == sb                      # partition-independent
    assert len(sa) == 10                 # 5 per language
    assert all(rk <= 5 for _, _, rk in sa)


def test_pack_sequences_prefix_sum(spark):
    from data_pipelines_cu_spark.operators import text as tx

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in [(0, 300), (1, 300), (2, 100), (3, 50)]],
        ["doc_id", "text"],
    )
    # bucket_size=2 forces multi-bucket offsets: bucket0={0,1}, bucket1={2,3}
    out = {
        r.doc_id: (r.n_tokens, r.bin_id, r.bin_offset)
        for r in tx.pack_sequences(docs, seq_len=512, bucket_size=2).collect()
    }
    assert out[0] == (300, 0, 0)
    assert out[1] == (300, 0, 300)      # starts in bin 0, spills into bin 1
    assert out[2] == (100, 1, 88)       # cum_before=600 → bin 1 offset 88
    assert out[3] == (50, 1, 188)
    # partition-independence
    out2 = {
        r.doc_id: (r.n_tokens, r.bin_id, r.bin_offset)
        for r in tx.pack_sequences(
            docs.repartition(5), seq_len=512, bucket_size=2
        ).collect()
    }
    assert out == out2


def test_mixture_sample_exact_proportions(spark):
    from data_pipelines_cu_spark.operators import sampling as smp

    rows = (
        [(i, "web") for i in range(100)]
        + [(i + 100, "code") for i in range(25)]
        + [(i + 200, "ref") for i in range(40)]
        + [(i + 300, "junk") for i in range(99)]
    )
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = smp.mixture_sample(df, "source", {"web": 3, "code": 1, "ref": 1}, "doc_id")
    by_src = {r[0]: r[1] for r in out.groupBy("source").count().collect()}
    # m = min(100//3, 25//1, 40//1) = 25 → quotas 75/25/25, junk dropped
    assert by_src == {"web": 75, "code": 25, "ref": 25}
    # deterministic under repartitioning
    a = sorted(r.doc_id for r in out.collect())
    b = sorted(
        r.doc_id
        for r in smp.mixture_sample(
            df.repartition(7), "source", {"web": 3, "code": 1, "ref": 1}, "doc_id"
        ).collect()
    )
    assert a == b


def test_persisted_ivf_index_matches_inline_and_prunes(spark, sf_dir, tmp_path):
    """build_ivf_index + query_ivf_index must reproduce cosine_topk_ivf
    exactly (same seeding/refinement), and the query-side scan must prune
    non-probed cell partitions at the file listing."""
    from data_pipelines_cu_spark.catalog import load_table
    from data_pipelines_cu_spark.operators import similarity as sim

    em = load_table(spark, sf_dir, "embeddings")
    queries = em.filter(F.col("vec_id") < 5)
    path = str(tmp_path / "ivf_index")
    cents = sim.build_ivf_index(em, path, n_centroids=8, lloyd_iters=2)
    assert len(cents) == 8

    via_index = sim.query_ivf_index(spark, path, cents, queries, k=5, n_probe=2)
    inline = sim.cosine_topk_ivf(em, queries, k=5, n_centroids=8, n_probe=2)
    got = sorted(map(tuple, via_index.collect()))
    want = sorted(map(tuple, inline.collect()))
    assert got == want

    plan = via_index._jdf.queryExecution().executedPlan().toString()
    # probe cells pruned at the file listing, not filtered after the read
    assert "PartitionFilters: [cell" in plan


def test_boilerplate_ngram_stats_flags_shared_trigrams(spark):
    """Docs 1-3 share the trigram 'the quick fox'; doc 4 shares nothing.
    min_docs=3 must flag exactly that trigram's positions."""
    from data_pipelines_cu_spark.operators import dedup as dd

    df = spark.createDataFrame(
        [
            (1, "the quick fox jumped high"),
            (2, "see the quick fox run"),
            (3, "the quick fox sat down"),
            (4, "entirely different words here now"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_grams"], r["n_boiler"], r["boiler_fraction"])
        for r in dd.boilerplate_ngram_stats(df, n=3, min_docs=3).collect()
    }
    assert got[1] == (3, 1, round(1 / 3, 6))
    assert got[2] == (3, 1, round(1 / 3, 6))
    assert got[3] == (3, 1, round(1 / 3, 6))
    assert got[4] == (3, 0, 0.0)


def test_knn_label_predict_majority_vote(spark):
    """Three tight clusters along distinct axes: each query's neighbors
    are its own cluster, so every prediction must be correct; tie-break
    path exercised with k spanning two clusters."""
    from data_pipelines_cu_spark.operators import similarity as sim

    rows = []
    for cid, base in [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]), (2, [0.0, 0.0, 1.0])]:
        for j in range(4):
            v = [x + 0.01 * j * x for x in base]
            rows.append((cid * 4 + j, v, cid))
    em = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    q = em.filter(F.col("vec_id") % 4 == 0)
    got = {r["query_id"]: r for r in sim.knn_label_predict(em, q, k=3).collect()}
    assert len(got) == 3
    for qid, r in got.items():
        assert r["pred_label"] == r["true_label"]
        assert r["correct"] == 1
        assert r["votes"] == 3


def test_kmv_sketch_merge_equals_single_pass(spark):
    """KMV's defining property: merging per-shard sketches (k smallest of
    the union) gives EXACTLY the sketch of the full data — what makes
    per-day/per-partition sketches combinable into corpus totals without
    rescanning. Also: the estimate is within 30% of truth at k=64 on 1000
    distinct values, and exact below k."""
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators import sketches as sk

    full = spark.range(0, 1000).select(
        F.lit("g").alias("g"), F.col("id").cast("string").alias("v")
    )
    half1, half2 = full.filter("id % 2 = 0"), full.filter("id % 2 = 1")
    merged = sk.kmv_merge(
        sk.kmv_sketch(half1, ["g"], "v").unionByName(
            sk.kmv_sketch(half2, ["g"], "v")
        ),
        ["g"],
    ).collect()[0]
    single = sk.kmv_sketch(full, ["g"], "v").collect()[0]
    assert list(merged.kmv) == list(single.kmv)

    est = sk.kmv_distinct(full, ["g"], "v").collect()[0]
    assert est.n_exact == 1000
    assert abs(est.kmv_estimate - 1000) / 1000 < 0.30
    small = sk.kmv_distinct(full.filter("id < 40"), ["g"], "v").collect()[0]
    assert small.kmv_estimate == 40.0 and small.rel_err == 0.0


def test_cm_sketch_merge_linearity_and_overestimate(spark, tables):
    """Count-Min counters are sums, so per-shard sketches merge by
    bucket-wise addition into exactly the full-corpus sketch; estimates
    never underestimate (min over d counters >= true count)."""
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators import sketches as sk
    from data_pipelines_cu_spark.operators.dedup import gram_rows

    docs = tables["documents"]
    out = sk.cm_gram_count_error(docs, min_count=3)
    rows = out.collect()
    assert rows and all(r.overestimate >= 0 for r in rows)

    grams = gram_rows(docs, "text", "doc_id", 3).select("gram")
    def counters(g):
        rb = F.explode(F.array(*[
            F.struct(F.lit(r).alias("r"),
                     sk._cm_bucket(F.col("gram"), r).alias("bucket"))
            for r in range(sk.CM_DEPTH)]))
        return (g.select(rb.alias("rb")).select("rb.r", "rb.bucket")
                .groupBy("r", "bucket").agg(F.count(F.lit(1)).alias("cnt")))
    h1 = counters(grams.filter(F.crc32(F.col("gram")) % 2 == 0))
    h2 = counters(grams.filter(F.crc32(F.col("gram")) % 2 == 1))
    merged = {
        (r.r, r.bucket): r.total
        for r in h1.unionByName(h2).groupBy("r", "bucket")
        .agg(F.sum("cnt").alias("total")).collect()
    }
    full = {(r.r, r.bucket): r.cnt for r in counters(grams).collect()}
    assert merged == full


def test_bloom_bitmap_merge_by_or(spark):
    """Bloom bitmaps over two key sets OR together into the bitmap of the
    union — the shard-and-merge build path."""
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators import sketches as sk

    a = spark.createDataFrame([("x y z",), ("p q r",)], ["gram"])
    b = spark.createDataFrame([("p q r",), ("m n o",)], ["gram"])
    both = a.unionByName(b).distinct()
    ored = {
        r.word_idx: r.bits
        for r in sk.bloom_bitmap(a).unionByName(sk.bloom_bitmap(b))
        .groupBy("word_idx").agg(F.bit_or("bits").alias("bits")).collect()
    }
    full = {r.word_idx: r.bits for r in sk.bloom_bitmap(both).collect()}
    assert ored == full


def test_expectations_catch_injected_violations(spark):
    """Each expectation kind fires on data violating it and stays quiet on
    clean data — counts are exact (dbt semantics: unique counts every
    member of a duplicated group)."""
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators import expectations as ex

    child = spark.createDataFrame(
        [(1, 10, "O", 5.0), (1, 10, "F", 7.0), (2, None, "X", -1.0),
         (3, 99, "P", 0.0)],
        "k long, fk int, status string, amount double",
    )
    parent = spark.createDataFrame([(10,), (11,)], "pk int")
    report = {
        r.check: (r.n_violations, r.n_checked, r.passed)
        for r in ex.expectations_report([
            ex.unique_expectation(child, ["k"], "k_unique"),
            ex.rowwise_expectations(child, {
                "fk_not_null": F.col("fk").isNull(),
                "status_ok": ~F.col("status").isin("O", "F", "P"),
                "amount_positive": F.col("amount") <= 0,
            }),
            ex.fk_expectation(child, "fk", parent, "pk", "fk_parent"),
        ]).collect()
    }
    assert report["k_unique"] == (2, 4, 0)        # both rows of the dup group
    assert report["fk_not_null"] == (1, 4, 0)
    assert report["status_ok"] == (1, 4, 0)
    assert report["amount_positive"] == (2, 4, 0)  # -1.0 and 0.0
    # fk: null fk row joins nothing -> orphan; 99 has no parent -> orphan
    assert report["fk_parent"] == (2, 4, 0)
    clean = spark.createDataFrame([(5, 11, "O", 1.0)], child.schema)
    rep2 = ex.expectations_report([
        ex.unique_expectation(clean, ["k"], "k_unique"),
        ex.fk_expectation(clean, "fk", parent, "pk", "fk_parent"),
    ]).collect()
    assert all(r.passed == 1 and r.n_violations == 0 for r in rep2)


def test_gram_and_minhash_sql_quote_identifiers(spark):
    """gram_rows and the minhash aggregates interpolate column names into
    SQL text: a name with a space or a dot must resolve as that one
    column (backtick-quoted), not as a parse error or a struct field."""
    from data_pipelines_cu_spark.operators import dedup as dd

    docs = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "a b c d")],
        "`doc id` long, `body.text` string",
    )
    grams = dd.gram_rows(docs, "body.text", "doc id", 3)
    assert grams.columns == ["doc id", "gram"]
    assert sorted(map(tuple, grams.collect())) == [
        (1, "quick brown fox"),
        (1, "the quick brown"),
        (2, "a b c"),
        (2, "b c d"),
    ]

    gx = grams.select("doc id", dd._base_hash32("gram").alias("g x"))
    spaced = gx.groupBy("doc id").agg(*dd._minhash_cols("g x"))
    plain = gx.withColumnRenamed("g x", "gx").groupBy("doc id").agg(
        *dd._minhash_cols("gx")
    )
    assert sorted(map(tuple, spaced.collect())) == sorted(
        map(tuple, plain.collect())
    )



def test_jl_project_quotes_names_and_refuses_expressions(spark):
    """jl_project interpolates its column into SQL text: a name with a
    space or a dot must resolve as that one column, and a Column that is
    not a bare column reference must raise instead of having its
    rendering pasted into the fold."""
    import pytest
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators import similarity as sim

    planes = sim.seeded_hyperplanes(n_bits=4, dim=3, seed=11)
    vecs = spark.createDataFrame(
        [(1, [0.5, -1.25, 3.0], [0.5, -1.25, 3.0])],
        "id long, `my vec` array<double>, `a.b` array<double>",
    )
    want = vecs.select(sim.jl_project("my vec", planes).alias("p")).first()["p"]
    assert len(want) == 4
    got = vecs.select(sim.jl_project(F.col("`a.b`"), planes).alias("p")).first()
    assert got["p"] == want
    for bad in (F.reverse(F.col("my vec")), F.col("`my vec`").alias("v")):
        with pytest.raises(ValueError, match="bare column reference"):
            sim.jl_project(bad, planes)


def test_lineage_cuts_go_through_one_chokepoint():
    """spark.graft.reliableCuts decides every lineage cut only if no
    module cuts on its own: outside operators/materialize.py (the
    chokepoint) and streaming/jobs.py (micro-batch frames, where reliable
    cuts would pile up one file set per batch), the package calls neither
    localCheckpoint nor checkpoint."""
    import ast
    from pathlib import Path

    import data_pipelines_cu_spark

    root = Path(data_pipelines_cu_spark.__file__).parent
    exempt = {root / "operators" / "materialize.py", root / "streaming" / "jobs.py"}
    calls = [
        f"{path.relative_to(root)}:{node.lineno}"
        for path in sorted(root.rglob("*.py"))
        if path not in exempt
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("localCheckpoint", "checkpoint")
    ]
    assert calls == [], f"lineage cuts bypassing lineage_cut: {calls}"


def test_index_codec_is_decided_in_one_place():
    """The persisted IVF index's codec (float, SQ8, PQ) is decided by
    similarity._index_codec alone: no package module other than
    operators/similarity.py names a quantized payload column, so no
    other module can keep its own codec dispatch."""
    import ast
    from pathlib import Path

    import data_pipelines_cu_spark

    root = Path(data_pipelines_cu_spark.__file__).parent
    owner = root / "operators" / "similarity.py"
    hits = [
        f"{path.relative_to(root)}:{node.lineno}"
        for path in sorted(root.rglob("*.py"))
        if path != owner
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Constant) and node.value in ("codes", "pq_codes")
    ]
    assert hits == [], f"codec dispatch outside similarity._index_codec: {hits}"
