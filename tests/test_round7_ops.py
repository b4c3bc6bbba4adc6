"""Round-7 regression tests: the two-level blocked global rank (the
scale-safe default replacing corpus-sized Window.orderBy row_number),
its degenerate inputs (all-equal keys, single block, fewer rows than
deciles, NULL scores), the DSIR TakeOrdered top-n, the interval-join
long-span guard, and the PCA j < dim clamp."""

from __future__ import annotations

import duckdb
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from data_pipelines_cu_spark import ml
from data_pipelines_cu_spark.operators import aggregates as ag
from data_pipelines_cu_spark.operators import joins as jn
from data_pipelines_cu_spark.operators import text as tx
from data_pipelines_cu_spark.operators.windows import (
    blocked_ntile,
    blocked_row_number,
)
from tests.util import rows_key


def _ranks(df, cols=("k", "r")):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_blocked_row_number_matches_global_window(spark):
    """Exact equivalence to row_number().over(Window.orderBy(...)) on a
    key mix with heavy ties and NULLs (Spark asc = NULLS FIRST)."""
    rows = [(i, [1.0, 2.0, None, 7.25, 2.0][i % 5]) for i in range(999)]
    df = spark.createDataFrame(rows, "k long, v double").repartition(7)
    exp = df.select("k", F.row_number().over(W.orderBy("v", "k")).alias("r"))
    got = blocked_row_number(df, ["v", "k"], rank_col="r").select("k", "r")
    assert _ranks(exp) == _ranks(got)


def test_blocked_row_number_all_equal_values(spark):
    """Every sort value tied: ranks fall back to the tiebreak key alone,
    and the range shuffle must still spread rows (the tiebreak is part of
    the partitioning key — no single fat block)."""
    df = spark.createDataFrame(
        [(i, 1.0) for i in range(500)], "k long, v double"
    )
    got = blocked_row_number(df, ["v", "k"], rank_col="r").select("k", "r")
    assert _ranks(got) == [(i, i + 1) for i in range(500)]


def test_blocked_row_number_single_block_and_empty(spark, monkeypatch):
    """One block degenerates to the plain global rank; empty input stays
    empty (no ANSI error from the prefix-window coalesce)."""
    from data_pipelines_cu_spark.operators import windows

    df = spark.createDataFrame(
        [(3, 9.0), (1, 9.0), (2, 0.5)], "k long, v double"
    )
    monkeypatch.setattr(windows, "post_shuffle_width", lambda session: 1)
    got = blocked_row_number(df, ["v", "k"], rank_col="r")
    assert _ranks(got.select("k", "r")) == [(1, 2), (2, 1), (3, 3)]
    empty = df.filter(F.lit(False))
    assert blocked_row_number(empty, ["v", "k"]).count() == 0


def test_blocked_ntile_matches_ntile_window(spark):
    """Exact NTILE parity, including the q = 0 branch (fewer rows than
    tiles must not evaluate the div-by-zero arm under ANSI mode)."""
    rows = [(i, float((i * 7) % 13)) for i in range(101)]
    df = spark.createDataFrame(rows, "k long, v double")
    for n_tiles, n_rows in [(4, 101), (10, 101), (7, 3), (5, 5)]:
        sub = df.limit(n_rows)
        exp = sub.select(
            "k", F.ntile(n_tiles).over(W.orderBy("v", "k")).alias("r")
        )
        got = blocked_ntile(sub, ["v", "k"], n_tiles, out_col="r").select(
            "k", "r"
        )
        assert _ranks(exp) == _ranks(got), f"ntile({n_tiles}) on {n_rows}"


def test_blocked_ntile_desc_order(spark):
    """Descending metric order (the RFM shape: metric DESC, key ASC)."""
    df = spark.createDataFrame(
        [(i, float(i % 9)) for i in range(50)], "k long, v double"
    )
    order = [F.col("v").desc(), F.col("k")]
    exp = df.select("k", F.ntile(4).over(W.orderBy(*order)).alias("r"))
    got = blocked_ntile(df, order, 4, out_col="r").select("k", "r")
    assert _ranks(exp) == _ranks(got)


def test_gini_all_equal_amounts_blocked_rank(spark):
    """Every entity with the identical amount — every rank a tie except
    the key: Gini must come out 0 (to 6dp) and deciles must hold exactly
    n/10 entities each, through the blocked rank."""
    ent = spark.createDataFrame([(i,) for i in range(100)], "c_custkey long")
    fact = spark.createDataFrame(
        [(i, 10.0) for i in range(100)], "o_custkey long, o_totalprice double"
    )
    out = ag.gini_concentration(ent, fact).collect()
    assert len(out) == 10
    assert all(r["gini"] == 0.0 for r in out)
    assert all(r["n_entities"] == 10 for r in out)
    # Lorenz curve of perfect equality: cum_share = decile/10
    assert all(abs(r["cum_share"] - r["decile"] / 10) < 1e-9 for r in out)


def test_psi_fewer_reference_rows_than_deciles(spark):
    """n_ref < n_bins: several spine positions select the SAME rank
    member (integer ceil division), the edge array still has n_bins-1
    entries, and the engine matches the oracle bit-for-bit."""
    rows = [
        (i, f"2024-01-{d:02d} 00:00:00", float(v))
        for i, (d, v) in enumerate(
            [(1, 5.0), (2, 1.0), (3, 9.0), (20, 4.0), (21, 6.0), (22, 2.0)]
        )
    ]
    df = spark.createDataFrame(rows, "event_id long, ts string, value double")
    df = df.withColumn("ts", F.to_timestamp("ts"))
    got = ag.psi_value_drift(df).toPandas()
    con = duckdb.connect()
    con.sql(
        "CREATE TABLE events AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, TIMESTAMP '{t}', {v})" for i, t, v in rows
        )
        + ") t(event_id, ts, value)"
    )
    exp = con.sql(ag.psi_value_drift_sql()).df()
    assert rows_key(
        list(got.columns), got.itertuples(index=False, name=None)
    ) == rows_key(list(exp.columns), exp.itertuples(index=False, name=None))


def test_psi_null_values_rank_parity(spark):
    """NULL values in the REFERENCE half (the round-6 ADVICE class): the
    oracle's ORDER BY v NULLS FIRST must shift every rank exactly like
    Spark's asc_nulls_first blocked rank — selection edges stay equal."""
    rows = [
        (1, "2024-01-01 00:00:00", None),
        (2, "2024-01-02 00:00:00", 4.0),
        (3, "2024-01-03 00:00:00", None),
        (4, "2024-01-04 00:00:00", 8.0),
        (5, "2024-01-05 00:00:00", 1.0),
        (6, "2024-01-20 00:00:00", 3.0),
        (7, "2024-01-21 00:00:00", 7.0),
        (8, "2024-01-22 00:00:00", None),
    ]
    df = spark.createDataFrame(rows, "event_id long, ts string, value double")
    df = df.withColumn("ts", F.to_timestamp("ts"))
    got = ag.psi_value_drift(df).toPandas()
    con = duckdb.connect()
    con.sql(
        "CREATE TABLE events AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, TIMESTAMP '{t}', {'NULL' if v is None else v})"
            for i, t, v in rows
        )
        + ") t(event_id, ts, value)"
    )
    exp = con.sql(ag.psi_value_drift_sql()).df()
    assert rows_key(
        list(got.columns), got.itertuples(index=False, name=None)
    ) == rows_key(list(exp.columns), exp.itertuples(index=False, name=None))


def test_quantile_calibrate_null_scores(spark):
    """NULL quality scores rank first on both engines (Spark
    asc_nulls_first blocked rank vs the oracle's NULLS FIRST) and the
    calibrated selection member matches."""
    rows = [
        (1, "a", None),
        (2, "a", 0.5),
        (3, "a", 0.9),
        (4, "b", 0.1),
        (5, "b", None),
        (6, "b", 0.7),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, quality double")
    got = tx.quality_quantile_calibrate(df).toPandas()
    con = duckdb.connect()
    con.sql(
        "CREATE TABLE scored_docs AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, '{s}', {'NULL' if q is None else q})"
            for i, s, q in rows
        )
        + ") t(doc_id, source, quality)"
    )
    exp = con.sql(
        tx.quantile_calibrate_sql(score_sql="scored_docs")
    ).df()
    assert rows_key(
        list(got.columns), got.itertuples(index=False, name=None)
    ) == rows_key(list(exp.columns), exp.itertuples(index=False, name=None))


def test_interval_join_extreme_span_bounded_and_exact(spark):
    """One pathological year-long interval among ordinary ones: the long
    lane routes it through coarse buckets (span/64 explode rows, not
    8,760), every pair still appears EXACTLY once, and the result equals
    the brute-force range join — points placed in every coarse bucket of
    the year exercise the whole coarse span."""
    hour = 3_600_000_000
    year = 365 * 24 * hour
    ivs = [(100, 0, year)] + [
        (200 + j, j * 3 * hour, j * 3 * hour + 2 * hour) for j in range(12)
    ]
    iv_df = spark.createDataFrame(ivs, "session_id long, start_us long, end_us long")
    pts = [(i, i * 64 * hour + 7) for i in range(137)] + [
        (1000, 0),
        (1001, year),      # inclusive end of the long interval
        (1002, year + 1),  # just past it
    ]
    pt_df = spark.createDataFrame(pts, "event_id long, t_us long")
    got = sorted(
        (r["event_id"], r["session_id"])
        for r in jn.interval_point_join(pt_df, iv_df, "t_us").collect()
    )
    brute = sorted(
        (p, s)
        for p, t in pts
        for s, lo, hi in ivs
        if lo <= t <= hi
    )
    assert got == brute
    assert len(got) == len(set(got)), "a pair appeared in both lanes"
    # the documented bound: the year-long interval explodes to
    # span/(bucket*64)+1 coarse rows, two orders below the fine lane
    n_coarse = year // (hour * 64) - 0 // (hour * 64) + 1
    assert n_coarse <= 138


def test_interval_join_long_factor_boundary(spark):
    """Intervals at exactly long_factor buckets stay in the fine lane;
    one bucket more routes coarse — both produce identical pairs."""
    ivs = [(1, 0, 639), (2, 0, 649)]  # 64 and 65 ten-unit buckets
    iv_df = spark.createDataFrame(ivs, "session_id long, start_us long, end_us long")
    pt_df = spark.createDataFrame(
        [(i, i * 10 + 5) for i in range(70)], "event_id long, t_us long"
    )
    got = sorted(
        (r["event_id"], r["session_id"])
        for r in jn.interval_point_join(
            pt_df, iv_df, "t_us", bucket_us=10, long_factor=64
        ).collect()
    )
    brute = sorted(
        (i, s)
        for i in range(70)
        for s, lo, hi in ivs
        if lo <= i * 10 + 5 <= hi
    )
    assert got == brute


def test_pca_overlong_vector_clamps_to_dim(spark):
    """An embedding longer than dim: positions j >= dim are clamped out,
    so the result equals PCA over the dim-truncated vectors (previously
    Spark fed the extra rows into the re-mix while the oracle generated
    exactly dim positions)."""
    vecs = [
        (i, [float((i * j) % 5 - 2) for j in range(6)]) for i in range(12)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    trunc = df.select("vec_id", F.slice("embedding", 1, 4).alias("embedding"))
    got = ml.pca_top_component(df, dim=4).collect()
    exp = ml.pca_top_component(trunc, dim=4).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, exp))
    assert len(got) == 4


def test_importance_sample_takeordered_tie_semantics(spark):
    """The orderBy().limit() rewrite keeps the window-rank selection
    under heavy imp_weight ties: duplicate texts tie exactly, so the
    boundary is decided by doc_id alone — ranks must be 1..top_n with
    the lowest-id tied docs kept."""
    from data_pipelines_cu_spark.operators.sampling import (
        importance_weighted_sample,
    )

    rows = [(i, "alpha beta", "en") for i in range(20)] + [
        (100 + i, "gamma delta epsilon", "en") for i in range(20)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = importance_weighted_sample(
        df, F.col("lang") == "en", top_n=10
    ).collect()
    assert len(out) == 10
    assert sorted(r["rk"] for r in out) == list(range(1, 11))
    # ties broken by ascending doc_id: within the winning weight class,
    # the kept ids are the smallest ones
    by_w = {}
    for r in out:
        by_w.setdefault(r["imp_weight"], []).append(r["doc_id"])
    for _w, ids in by_w.items():
        assert ids == sorted(ids)


# --- GIF codec (round 7: shrink the decode plug-point list) -------------------


def _rand_img(h, w, n_colors, seed):
    import numpy as np

    rng = np.random.RandomState(seed)
    pal = rng.randint(0, 256, size=(n_colors, 3), dtype=np.uint8)
    return pal[rng.randint(0, n_colors, size=(h, w))]


def test_gif_round_trip_shapes_and_palettes():
    """encode_gif -> decode_pixels is lossless for palette-bound images
    across odd shapes, palette sizes crossing LZW width boundaries, and
    a 64x64 image whose LZW stream spans multiple 255-byte sub-blocks
    and grows the dictionary through several width bumps."""
    import numpy as np

    from data_pipelines_cu_spark.operators.multimodal import (
        decode_pixels,
        encode_gif,
    )

    cases = [
        (1, 1, 1, 0),
        (3, 7, 2, 1),
        (5, 5, 5, 2),
        (16, 9, 17, 3),
        (64, 64, 200, 4),
    ]
    for h, w, nc, seed in cases:
        img = _rand_img(h, w, nc, seed)
        out = decode_pixels(encode_gif(img))
        assert out.shape == (h, w, 3), (h, w, nc)
        assert (out == img).all(), (h, w, nc)


def test_gif_interlaced_round_trip():
    """4-pass interlace: encoder reorders rows, decoder restores them."""
    from data_pipelines_cu_spark.operators.multimodal import (
        decode_pixels,
        encode_gif,
    )

    for h in (1, 2, 3, 4, 5, 8, 13, 33):
        img = _rand_img(h, 6, 4, 100 + h)
        out = decode_pixels(encode_gif(img, interlace=True))
        assert (out == img).all(), f"h={h}"


def test_gif_dictionary_overflow_clear_reset():
    """An image with enough distinct LZW phrases to hit code 4096 forces
    the encoder's CLEAR-reset path; the decoder must resync."""
    import numpy as np

    from data_pipelines_cu_spark.operators.multimodal import (
        decode_pixels,
        encode_gif,
    )

    rng = np.random.RandomState(9)
    pal = rng.randint(0, 256, size=(256, 3), dtype=np.uint8)
    idx = rng.randint(0, 256, size=(96, 96))
    img = pal[idx]
    out = decode_pixels(encode_gif(img))
    assert (out == img).all()


def test_gif_too_many_colors_raises():
    import numpy as np
    import pytest

    from data_pipelines_cu_spark.operators.multimodal import encode_gif

    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, size=(32, 32, 3), dtype=np.uint8)
    assert len(np.unique(img.reshape(-1, 3), axis=0)) > 256
    with pytest.raises(ValueError, match="256"):
        encode_gif(img)


def test_gif_subframe_transparency_composes_on_background():
    """Hand-built GIF: 4x4 screen, white background (index 1), a 2x2
    frame at (1,1) whose top-left pixel is transparent — the render
    shows background there and the frame's red elsewhere."""
    import struct

    import numpy as np

    from data_pipelines_cu_spark.operators.multimodal import (
        _gif_lzw_encode,
        decode_pixels,
    )

    # palette: 0 = red, 1 = white (bg), 2 = transparent slot, 3 unused
    gct = bytes([255, 0, 0, 255, 255, 255, 9, 9, 9, 0, 0, 0])
    payload = bytearray(b"GIF89a")
    payload += struct.pack("<HHBBB", 4, 4, 0x80 | 0x70 | 0x01, 1, 0)
    payload += gct
    # graphic control: transparency on, transparent index 2
    payload += bytes([0x21, 0xF9, 4, 0x01, 0, 0, 2, 0])
    payload += struct.pack("<BHHHHB", 0x2C, 1, 1, 2, 2, 0)
    data = _gif_lzw_encode(bytes([2, 0, 0, 0]), 2)
    payload.append(2)  # LZW min code size
    payload.append(len(data))
    payload += data
    payload += b"\x00\x3b"
    out = decode_pixels(bytes(payload))
    white = [255, 255, 255]
    red = [255, 0, 0]
    assert out.shape == (4, 4, 3)
    assert (out[0] == white).all() and (out[:, 0] == white).all()
    assert (out[1, 1] == white).all()  # transparent shows background
    assert (out[1, 2] == red).all()
    assert (out[2, 1] == red).all() and (out[2, 2] == red).all()


def test_gif_transcode_any_to_any():
    """GIF participates in the transcode kernel both ways."""
    from data_pipelines_cu_spark.operators.multimodal import (
        decode_pixels,
        encode_png,
        transcode_image,
    )

    img = _rand_img(9, 11, 12, 42)
    png = encode_png(img)
    gif = transcode_image(png, "gif")
    assert gif[:6] == b"GIF89a"
    back = transcode_image(gif, "png")
    assert (decode_pixels(back) == img).all()


# --- Round-7 new registry entries (2 — the rotation cap) ----------------------


def test_cusum_constant_series_picks_earliest_day(spark):
    """A perfectly flat series ties every |G| at 0: the earliest day wins
    (deterministic tiebreak), the peak is 0, and both means equal the
    constant level."""
    rows = [
        (i * 10 + j, f"2024-02-{d:02d} 03:00:00")
        for i, d in enumerate(range(1, 8))
        for j in range(5)
    ]
    df = spark.createDataFrame(
        [(eid, ts) for eid, ts in rows], "event_id long, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = ag.cusum_changepoint(df).collect()
    assert len(out) == 1
    r = out[0]
    assert r["change_day"] == "2024-02-01"
    assert r["cusum_peak"] == 0.0
    assert r["mean_before"] == 5.0 and r["mean_after"] == 5.0
    assert r["n_days"] == 7


def test_cusum_single_day_mean_after_null(spark):
    """One day of data: the argmax is the last (only) day, so mean_after
    is NULL, not a DIVIDE_BY_ZERO crash."""
    df = spark.createDataFrame(
        [(1, "2024-02-01 03:00:00"), (2, "2024-02-01 04:00:00")],
        "event_id long, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    r = ag.cusum_changepoint(df).collect()[0]
    assert r["n_days"] == 1 and r["mean_after"] is None
    assert r["mean_before"] == 2.0 and r["cusum_peak"] == 0.0


def test_cusum_detects_obvious_level_shift(spark):
    """10 days at 2/day then 10 days at 20/day: the changepoint is the
    last low day, mean_before = 2, mean_after = 20."""
    rows = []
    eid = 0
    for d in range(1, 11):
        for _ in range(2):
            rows.append((eid, f"2024-03-{d:02d} 01:00:00")); eid += 1
    for d in range(11, 21):
        for _ in range(20):
            rows.append((eid, f"2024-03-{d:02d} 01:00:00")); eid += 1
    df = spark.createDataFrame(rows, "event_id long, ts string").withColumn(
        "ts", F.to_timestamp("ts")
    )
    r = ag.cusum_changepoint(df).collect()[0]
    assert r["change_day"] == "2024-03-10"
    assert r["mean_before"] == 2.0 and r["mean_after"] == 20.0


def test_entity_resolution_roster_is_numeric_sorted(spark):
    """Member rosters sort NUMERICALLY (9 before 10) — a lexicographic
    sort of string-cast ids would silently diverge from the oracle's
    ORDER BY member."""
    rows = [
        (9, "navy linen case", "B1"),
        (10, "navy linen vase", "B1"),
        (100, "navy linen base", "B1"),
        (5, "unrelated widget", "B2"),
    ]
    p = spark.createDataFrame(rows, "p_partkey long, p_name string, p_brand string")
    pairs = jn.edit_distance_pairs(
        p, id_col="p_partkey", str_col="p_name", block_col="p_brand", d=2
    )
    from data_pipelines_cu_spark.operators import dedup as dd

    assign = dd.dedup_clusters(pairs)
    roster = (
        assign.groupBy("canonical_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("member_ids")
        )
        .collect()
    )
    assert len(roster) == 1
    assert roster[0]["canonical_id"] == 9
    assert roster[0]["member_ids"] == "9,10,100"


def test_gif_background_index_resolves_against_global_table():
    """Review fix: the background color index is into the GLOBAL color
    table by spec — a first frame carrying a LOCAL color table must not
    rebind it. 4x4 screen, GCT bg = white; 2x2 sub-frame with an LCT
    (red/green): the border must be GCT-white, the frame LCT-colored."""
    import struct

    from data_pipelines_cu_spark.operators.multimodal import (
        _gif_lzw_encode,
        decode_pixels,
    )

    gct = bytes([0, 0, 255, 255, 255, 255])  # 0 = blue, 1 = white (bg)
    lct = bytes([255, 0, 0, 0, 255, 0])  # 0 = red, 1 = green
    payload = bytearray(b"GIF89a")
    payload += struct.pack("<HHBBB", 4, 4, 0x80 | 0x70 | 0x00, 1, 0)
    payload += gct
    # image descriptor at (1,1) 2x2 with a local color table (0x80 | size 0)
    payload += struct.pack("<BHHHHB", 0x2C, 1, 1, 2, 2, 0x80)
    payload += lct
    data = _gif_lzw_encode(bytes([0, 1, 1, 0]), 2)
    payload.append(2)
    payload.append(len(data))
    payload += data
    payload += b"\x00\x3b"
    out = decode_pixels(bytes(payload))
    assert (out[0] == [255, 255, 255]).all()  # GCT white, not LCT green
    assert (out[:, 0] == [255, 255, 255]).all()
    assert (out[1, 1] == [255, 0, 0]).all() and (out[1, 2] == [0, 255, 0]).all()
    assert (out[2, 1] == [0, 255, 0]).all() and (out[2, 2] == [255, 0, 0]).all()


def test_gif_truncated_payload_raises_valueerror():
    """Review fix: truncated GIF block chains must surface the documented
    ValueError, not a bare IndexError."""
    import pytest

    from data_pipelines_cu_spark.operators.multimodal import (
        decode_pixels,
        encode_gif,
    )

    full = encode_gif(_rand_img(8, 8, 5, 11))
    for cut in (7, 12, len(full) // 2, len(full) - 3):
        with pytest.raises(ValueError):
            decode_pixels(full[:cut])


def test_cusum_null_timestamp_day_rank_parity(spark):
    """Review fix: a NULL-timestamp day ranks FIRST on both engines
    (Spark asc_nulls_first vs the oracle's explicit NULLS FIRST) — the
    cumulative sums and the integer argmax must stay engine-identical."""
    rows = [
        (1, None),
        (2, "2024-01-02 01:00:00"),
        (3, "2024-01-02 02:00:00"),
        (4, "2024-01-03 01:00:00"),
        (5, None),
        (6, "2024-01-10 01:00:00"),
        (7, "2024-01-10 02:00:00"),
        (8, "2024-01-10 03:00:00"),
    ]
    df = spark.createDataFrame(rows, "event_id long, ts string").withColumn(
        "ts", F.to_timestamp("ts")
    )
    got = ag.cusum_changepoint(df).toPandas()
    con = duckdb.connect()
    con.sql(
        "CREATE TABLE events AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, {'NULL::TIMESTAMP' if t is None else repr(t) + '::TIMESTAMP'})"
            for i, t in rows
        )
        + ") t(event_id, ts)"
    )
    exp = con.sql(ag.cusum_changepoint_sql()).df()
    assert rows_key(
        list(got.columns), got.itertuples(index=False, name=None)
    ) == rows_key(list(exp.columns), exp.itertuples(index=False, name=None))
