"""Round-14 optimization internals: the hardened `_widen_if_narrow`
precondition, the directory-aware catalog stamp + targeted eviction, and
the pyspark-internal pin behind the call-site-capture fast path."""

from __future__ import annotations

import time

from data_pipelines_cu_spark import catalog
from data_pipelines_cu_spark.operators import similarity as sim


def _job_count(spark) -> int:
    """Total jobs submitted so far on this context (DAGScheduler's next
    job id — advances exactly once per submitted job, no listener lag)."""
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_widen_refuses_shuffle_rooted_frames(spark):
    """On a shuffle-rooted frame `_widen_if_narrow` must be a no-op AND
    must not execute any stage: under AQE, touching `.rdd` materializes
    upstream shuffle stages at call time (r13 verdict item 3), so the
    helper now bails on any barrier node in the optimized plan."""
    from pyspark.sql import functions as F

    shuffled = spark.range(100).groupBy((F.col("id") % 7).alias("k")).count()
    before = _job_count(spark)
    out = sim._widen_if_narrow(shuffled)
    after = _job_count(spark)
    assert out is shuffled, "shuffle-rooted frame must pass through untouched"
    assert after == before, "the precondition check must never run a job"


def test_widen_scan_rooted_probe_is_job_free(spark, tmp_path):
    """The at-scale contract: on a scan-rooted frame the partition probe
    stays driver-side (no job), whether it widens or no-ops."""
    p = str(tmp_path / "t.parquet")
    spark.range(10).coalesce(1).write.parquet(p)
    narrow = spark.read.parquet(p)
    before = _job_count(spark)
    widened = sim._widen_if_narrow(narrow)
    assert _job_count(spark) == before, "scan-rooted probe ran a job"
    assert widened is not narrow  # 1 split < defaultParallelism -> widened


def test_pyspark_debugging_cache_internal_still_exists():
    """ensure_session_confs flips pyspark's process-local debugging-cache
    flag (the call-site-capture fast path). The attribute is a pyspark
    internal; this pins the 4.1.2 assumption so a future pyspark bump that
    renames it fails HERE, loudly, instead of silently reverting every
    Column op to the 6x-slower capture path."""
    from pyspark.errors import utils as err_utils

    assert hasattr(err_utils, "_enable_debugging_cache")


def test_dir_table_stamp_sees_inplace_part_rewrite(spark, tmp_path):
    """ADVICE r13 / verdict item 8: for a DIRECTORY-shaped parquet table,
    rewriting one part-file's contents in place (same file name, same
    entry count — root dir stat unchanged) must still invalidate the
    cached handle: the stamp folds in the direct children's stats."""
    p = str(tmp_path / "dirtable.parquet")
    spark.range(0, 10).repartition(2).write.parquet(p)
    first = catalog._raw_table(spark, p)
    assert first.count() == 10
    stamp_before = catalog._path_stamp(p)
    # in-place rewrite of ONE part file, same name, new contents
    import os

    parts = sorted(
        f for f in os.listdir(p) if f.endswith(".parquet") and f.startswith("part-")
    )
    assert parts, "expected part files"
    victim = os.path.join(p, parts[0])
    time.sleep(0.05)  # ensure a distinguishable mtime at ns resolution
    spark.range(100, 120).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "replacement.parquet")
    )
    repl_dir = str(tmp_path / "replacement.parquet")
    repl = sorted(
        f for f in os.listdir(repl_dir) if f.endswith(".parquet")
    )
    with open(os.path.join(repl_dir, repl[0]), "rb") as src:
        data = src.read()
    with open(victim, "wb") as dst:
        dst.write(data)
    # a real in-place rewrite also rewrites the Hadoop LocalFS checksum
    # sidecar; leaving the stale .crc would fail the read with a
    # ChecksumException, which is a different (loud) failure mode than
    # the silent staleness this test guards against
    repl_crc = os.path.join(repl_dir, f".{repl[0]}.crc")
    victim_crc = os.path.join(p, f".{parts[0]}.crc")
    if os.path.exists(repl_crc) and os.path.exists(victim_crc):
        with open(repl_crc, "rb") as src:
            crc = src.read()
        with open(victim_crc, "wb") as dst:
            dst.write(crc)
    stamp_after = catalog._path_stamp(p)
    assert stamp_after != stamp_before, "child rewrite must change the stamp"
    fresh = catalog._raw_table(spark, p)
    assert fresh is not first, "stale handle served after in-place rewrite"


def test_handle_cache_targeted_eviction(spark, tmp_path):
    """A rewritten path's STALE entries are evicted on insert (not left to
    pile up until the mass clear); hot entries for other paths survive."""
    pa = str(tmp_path / "a.parquet")
    pb = str(tmp_path / "b.parquet")
    spark.range(5).coalesce(1).write.parquet(pa)
    spark.range(7).coalesce(1).write.parquet(pb)
    ha = catalog._raw_table(spark, pa)
    hb = catalog._raw_table(spark, pb)
    time.sleep(0.05)
    spark.range(9).coalesce(1).write.mode("overwrite").parquet(pa)
    catalog._raw_table(spark, pa)  # re-resolve under the new stamp
    entries_for_a = [
        k
        for k in catalog._TABLE_HANDLES
        if len(k) >= 3 and k[2] == pa and k[0] == id(spark)
    ]
    assert len(entries_for_a) == 1, f"stale entries linger: {entries_for_a}"
    # untouched path keeps its hot handle
    assert catalog._raw_table(spark, pb) is hb
    assert ha is not None  # silence linters; the old handle simply ages out


def test_widen_reads_plan_nodes_not_column_names(spark, tmp_path):
    """The scan-rooted check walks plan NODE names: a narrow scan whose
    columns are named like barrier nodes (SortKey, JoinDate) is still
    widened, with no job run by the check."""
    p = str(tmp_path / "named.parquet")
    spark.range(10).selectExpr("id AS SortKey", "id AS JoinDate").coalesce(
        1
    ).write.parquet(p)
    narrow = spark.read.parquet(p).filter("SortKey > 2")
    before = _job_count(spark)
    widened = sim._widen_if_narrow(narrow)
    assert _job_count(spark) == before, "the plan check ran a job"
    par = spark.sparkContext.defaultParallelism
    assert widened.rdd.getNumPartitions() == par


def test_widen_refuses_scalar_subquery_frames(spark, tmp_path):
    """A scan-rooted frame whose filter holds a scalar subquery is
    refused: the subquery's aggregate runs its own job at execution."""
    p = str(tmp_path / "t.parquet")
    spark.range(10).coalesce(1).write.parquet(p)
    spark.read.parquet(p).createOrReplaceTempView("widen_sq")
    try:
        framed = spark.sql(
            "SELECT id FROM widen_sq WHERE id > (SELECT avg(id) FROM widen_sq)"
        )
        assert sim._widen_if_narrow(framed) is framed
    finally:
        spark.catalog.dropTempView("widen_sq")


def test_dir_table_stamp_keeps_listing_not_its_hash(
    spark, tmp_path, monkeypatch
):
    """The directory stamp holds the children listing itself: with
    catalog's ``hash`` forced to a constant (every listing colliding), a
    part file rewritten in place still invalidates load_table's cached
    frame."""
    import os

    import pandas as pd

    sf = tmp_path / "sf"
    table = sf / "nation.parquet"
    table.mkdir(parents=True)

    def land(part, keys):
        pd.DataFrame(
            {"n_nationkey": keys, "n_name": [f"N{k}" for k in keys]}
        ).to_parquet(table / f"part-{part}.parquet", index=False)

    land(0, [0, 1])
    land(1, [2])
    monkeypatch.setattr(catalog, "hash", lambda _: 0, raising=False)
    first = catalog.load_table(spark, str(sf), "nation")
    assert first.count() == 3
    root = os.stat(table)
    land(0, [5, 6, 7, 8])
    st = os.stat(table / "part-0.parquet")
    os.utime(table / "part-0.parquet", ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert os.stat(table).st_mtime_ns == root.st_mtime_ns  # root unchanged
    fresh = catalog.load_table(spark, str(sf), "nation")
    assert fresh is not first, "stale cached frame served after a rewrite"
    assert sorted(r.n_nationkey for r in fresh.collect()) == [2, 5, 6, 7, 8]


def test_minhash_sql_exprs_match_column_form(spark):
    """The r14 SQL-string construction of the minhash aggregate and band
    expressions must build the IDENTICAL analyzed trees (and therefore
    bit-identical results) as the old Column-by-Column form."""
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators import dedup as dd

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over a lazy dog"),
            (3, "pack my box with five dozen liquor jugs today ok"),
        ],
        "doc_id long, text string",
    )
    gx = dd.gram_rows(docs, "text", "doc_id", 3).select(
        F.col("doc_id"), dd._base_hash32("gram").alias("gx")
    )
    # old Column-by-Column formulation, inlined as the reference
    old_aggs = [
        F.min(
            (F.lit(a) * F.col("gx") + F.lit(b)) % F.lit(dd.MINHASH_PRIME)
        ).alias(f"h{i}")
        for i, (a, b) in enumerate(dd.MINHASH_COEFFS)
    ]
    old_sigs = gx.groupBy("doc_id").agg(*old_aggs)
    new_sigs = gx.groupBy("doc_id").agg(*dd._minhash_cols("gx"))
    assert new_sigs.schema == old_sigs.schema
    assert sorted(map(tuple, new_sigs.collect())) == sorted(
        map(tuple, old_sigs.collect())
    )
    # full band rows: new selectExpr path vs old-form reconstruction
    old_band_cols = [
        F.md5(
            F.concat_ws(
                "|",
                F.col(f"h{2 * b}").cast("string"),
                F.col(f"h{2 * b + 1}").cast("string"),
            )
        ).alias(f"b{b}")
        for b in range(dd.N_BANDS)
    ]
    old_banded = old_sigs.select("doc_id", *old_band_cols)
    old_rows = old_banded.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"), F.col(f"b{b}").alias("bhash")
                    )
                    for b in range(dd.N_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bhash")
    new_rows = dd.minhash_band_rows(docs, "text", "doc_id", 3)
    assert new_rows.schema == old_rows.schema
    assert sorted(map(tuple, new_rows.collect())) == sorted(
        map(tuple, old_rows.collect())
    )


def test_gram_rows_sql_form_matches_column_form(spark):
    """gram_rows' r14 SQL-string construction must reproduce the old
    Window/lead Column form exactly (rows AND schema), including the
    n=2 and n=4 shapes and whitespace normalization."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators import dedup as dd

    docs = spark.createDataFrame(
        [
            (1, "  The   quick\tbrown fox JUMPS  over the lazy dog  "),
            (2, "one two"),
            (3, "single"),
            (4, ""),
            (5, None),
        ],
        "doc_id long, text string",
    )

    def old_gram_rows(df, text_col, id_col, n):
        words = df.select(
            F.col(id_col),
            F.posexplode(
                F.split(dd.normalized_text(text_col), " ")
            ).alias("pos", "w"),
        )
        w = Window.partitionBy(id_col).orderBy("pos")
        parts = [F.col("w")] + [F.lead("w", j).over(w) for j in range(1, n)]
        grams = words.select(
            F.col(id_col), *[p.alias(f"_p{j}") for j, p in enumerate(parts)]
        ).filter(F.col(f"_p{n - 1}").isNotNull())
        return grams.select(
            F.col(id_col),
            F.concat_ws(" ", *[F.col(f"_p{j}") for j in range(n)]).alias(
                "gram"
            ),
        )

    for n in (2, 3, 4):
        old = old_gram_rows(docs, "text", "doc_id", n)
        new = dd.gram_rows(docs, "text", "doc_id", n)
        assert new.schema == old.schema, f"n={n}"
        assert sorted(map(tuple, new.collect())) == sorted(
            map(tuple, old.collect())
        ), f"n={n}"


def test_jl_project_sql_form_matches_column_form(spark):
    """jl_project's r14 one-string construction must reproduce the old
    per-plane Column/lambda fold bit-for-bit (±1.0 literals, same IEEE
    fold order)."""
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators import similarity as sim

    planes = sim.seeded_hyperplanes(n_bits=4, dim=6, seed=11)

    def old_jl_project(vec, planes):
        projs = []
        for plane in planes:
            weights = F.array(*[F.lit(w) for w in plane])
            prods = F.zip_with(vec, weights, lambda x, w: x.cast("double") * w)
            projs.append(
                F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)
            )
        return F.array(*projs)

    df = spark.createDataFrame(
        [
            (1, [0.5, -1.25, 3.0, 0.125, -0.75, 2.5]),
            (2, [1e-3, 2.0, -4.5, 0.0, 9.75, -0.001]),
        ],
        "vec_id long, embedding array<double>",
    )
    old = df.select(
        "vec_id", old_jl_project(F.col("embedding"), planes).alias("p")
    )
    new = df.select("vec_id", sim.jl_project("embedding", planes).alias("p"))
    assert new.schema == old.schema
    assert sorted(map(tuple, new.collect())) == sorted(
        map(tuple, old.collect())
    )
