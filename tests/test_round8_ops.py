"""Round-8 regression tests: the take_ordered threshold guard's helpers
(reliable blocked-rank lineage cuts), the interval-join coarse-lane
gate + inverted intervals, GIF corrupt-stream strictness (out-of-range
palette index, zero-size descriptor), the PCA DECIMAL(37,12) headroom,
CUSUM degenerate series (single day, constant series, exact |G| ties),
and blocked_ntile with both n_tiles AND the block count above the row count —
the r7-verdict item-6 degenerate probes."""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from data_pipelines_cu_spark import ml
from data_pipelines_cu_spark.operators import aggregates as ag
from data_pipelines_cu_spark.operators import joins as jn
from data_pipelines_cu_spark.operators.windows import (
    blocked_ntile,
    blocked_row_number,
    take_ordered,
)
from tests import media_encoders as enc


def _ranks(df, cols=("k", "r")):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


# --- blocked rank: reliable materialization + tiles/blocks > rows ------------


def test_blocked_row_number_reliable_checkpoint(spark, tmp_path):
    """spark.graft.reliableCuts=true writes the lineage cut to the
    checkpoint dir (recoverable after executor loss) and ranks
    identically to the default local cut; with no checkpoint dir the
    rank raises lineage_cut's error instead of cutting locally."""
    from data_pipelines_cu_spark.operators.materialize import (
        RELIABLE_CUTS_CONF,
    )

    sc = spark.sparkContext
    old_dir = sc._jsc.sc().getCheckpointDir()
    rows = [(i, [3.5, None, 1.0, 3.5][i % 4]) for i in range(200)]
    df = spark.createDataFrame(rows, "k long, v double").repartition(5)
    local = blocked_row_number(df, ["v", "k"], rank_col="r")
    spark.conf.set(RELIABLE_CUTS_CONF, "true")
    try:
        if not old_dir.isDefined():
            with pytest.raises(ValueError, match="no checkpoint directory"):
                blocked_row_number(df, ["v", "k"], rank_col="r")
        sc.setCheckpointDir(str(tmp_path / "ckpt"))
        reliable = blocked_row_number(df, ["v", "k"], rank_col="r")
        assert _ranks(local) == _ranks(reliable)
        ckpts = list((tmp_path / "ckpt").rglob("*"))
        assert ckpts, "reliable checkpoint wrote nothing to the dir"
    finally:
        spark.conf.set(RELIABLE_CUTS_CONF, "false")
        if old_dir.isDefined():
            sc.setCheckpointDir(old_dir.get())


def test_blocked_ntile_tiles_and_blocks_exceed_rows(spark, monkeypatch):
    """n_tiles > n_rows AND blocks > n_rows simultaneously (the
    verdict's compound degenerate): must equal the NTILE window (tile =
    rank when q = 0) with most range blocks empty."""
    from data_pipelines_cu_spark.operators import windows

    df = spark.createDataFrame(
        [(1, 9.0), (2, 1.0), (3, 5.0), (4, 5.0)], "k long, v double"
    )
    exp = df.select("k", F.ntile(10).over(W.orderBy("v", "k")).alias("r"))
    monkeypatch.setattr(windows, "post_shuffle_width", lambda session: 64)
    got = blocked_ntile(df, ["v", "k"], 10, out_col="r").select("k", "r")
    assert _ranks(exp) == _ranks(got)


def test_take_ordered_rank_col_fast_path(spark):
    """Fast path (n below the boundary): rank is the selection order,
    LongType on both branches (schema stable across n), identical to the
    window form's values."""
    df = spark.createDataFrame(
        [(i, float(i % 3)) for i in range(30)], "k long, v double"
    )
    out = take_ordered(
        df, [F.col("v").desc(), F.col("k").asc()], 7, rank_col="r"
    )
    rows = sorted(out.collect(), key=lambda r: r.r)
    exp = sorted(((r.v, r.k) for r in df.collect()), key=lambda t: (-t[0], t[1]))[:7]
    assert [(r.v, r.k) for r in rows] == exp
    assert [r.r for r in rows] == list(range(1, 8))


# --- interval join: coarse-lane gate + inverted intervals --------------------


def _brute(pts, ivs):
    return sorted(
        (p, s) for p, t in pts for s, lo, hi in ivs if lo <= t <= hi
    )


def test_interval_join_gates_out_coarse_lane(spark):
    """No interval spans more than long_factor fine buckets (the common
    case): the lane gate — a lazy broadcast flag since r9, not the old
    eager build-time probe — must emit only the fine-lane key per point
    AT RUNTIME (1× point shuffle volume, no doubled rows), with
    identical pairs."""
    ivs = [(1, 0, 95), (2, 50, 149), (3, 200, 200)]
    pts = [(i, i * 7) for i in range(40)]
    iv_df = spark.createDataFrame(
        ivs, "session_id long, start_us long, end_us long"
    )
    pt_df = spark.createDataFrame(pts, "event_id long, t_us long")
    out = jn.interval_point_join(pt_df, iv_df, "t_us", bucket_us=10)
    got = sorted((r["event_id"], r["session_id"]) for r in out.collect())
    assert got == _brute(pts, ivs)
    # runtime gating: with no long interval the exploded point side is
    # exactly n_points rows; with one it doubles
    from pyspark.sql import functions as F  # noqa: PLC0415

    def lane_rows(iv_rows):
        frame = spark.createDataFrame(
            iv_rows, "session_id long, start_us long, end_us long"
        )
        flag = F.broadcast(
            frame.agg(
                F.coalesce(
                    F.max(
                        F.expr(
                            "(end_us div 10 - start_us div 10 + 1) > 64"
                        )
                    ),
                    F.lit(False),
                ).alias("_any_long")
            )
        )
        return jn._interval_lane_points(pt_df, flag, "t_us", 10, 640).count()

    assert lane_rows(ivs) == len(pts)
    assert lane_rows([(1, 0, 9999)]) == 2 * len(pts)


def test_interval_join_long_factor_none_opt_out(spark):
    """Explicit long_factor=None: single lane even when a long interval
    exists — exact pairs, just a bigger fine-lane explode."""
    ivs = [(1, 0, 9999), (2, 100, 150)]
    pts = [(i, i * 100) for i in range(120)]
    iv_df = spark.createDataFrame(
        ivs, "session_id long, start_us long, end_us long"
    )
    pt_df = spark.createDataFrame(pts, "event_id long, t_us long")
    got = sorted(
        (r["event_id"], r["session_id"])
        for r in jn.interval_point_join(
            pt_df, iv_df, "t_us", bucket_us=10, long_factor=None
        ).collect()
    )
    assert got == _brute(pts, ivs)


def test_interval_join_inverted_intervals_dropped(spark):
    """start > end matches nothing (SQL BETWEEN semantics) and must not
    explode a descending bucket sequence; valid intervals in the same
    table are unaffected."""
    ivs = [(1, 500, 100), (2, 0, 50)]  # first is inverted
    pts = [(i, i * 10) for i in range(60)]
    iv_df = spark.createDataFrame(
        ivs, "session_id long, start_us long, end_us long"
    )
    pt_df = spark.createDataFrame(pts, "event_id long, t_us long")
    got = sorted(
        (r["event_id"], r["session_id"])
        for r in jn.interval_point_join(
            pt_df, iv_df, "t_us", bucket_us=10
        ).collect()
    )
    assert got == _brute(pts, [(2, 0, 50)])
    # all-inverted (and empty) interval tables gate cleanly to no pairs
    only_bad = spark.createDataFrame(
        [(9, 70, 20)], "session_id long, start_us long, end_us long"
    )
    assert jn.interval_point_join(pt_df, only_bad, "t_us").count() == 0
    assert (
        jn.interval_point_join(
            pt_df, only_bad.filter(F.lit(False)), "t_us"
        ).count()
        == 0
    )


# --- GIF strictness -----------------------------------------------------------


def _gif_bytes(indices: bytes, w: int, h: int, n_pal: int = 2,
               fw: int | None = None, fh: int | None = None) -> bytes:
    """Hand-assemble a 1-frame GIF89a with a 2^k-entry GCT so tests can
    inject nonconforming pixel streams and descriptors."""
    from data_pipelines_cu_spark.operators.multimodal import _gif_lzw_encode

    pal_bits = max(1, (n_pal - 1).bit_length())
    table = b"".join(
        bytes([17 * i % 256] * 3) for i in range(1 << pal_bits)
    )
    min_code = max(2, pal_bits)
    data = _gif_lzw_encode(indices, min_code)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (pal_bits - 1), 0, 0)
    out += table
    out += struct.pack(
        "<BHHHHB", 0x2C, 0, 0, fw if fw is not None else w,
        fh if fh is not None else h, 0
    )
    out.append(min_code)
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)


def test_gif_out_of_range_palette_index_raises():
    """A pixel index past the color table (code space 4 > 2-entry GCT) is
    a corrupt stream — ValueError, never silently clamped pixels."""
    from data_pipelines_cu_spark.operators.multimodal import _decode_gif

    good = _gif_bytes(bytes([0, 1]), 2, 1)
    assert _decode_gif(good).shape == (1, 2, 3)
    bad = _gif_bytes(bytes([0, 3]), 2, 1)  # index 3, table has 2 entries
    with pytest.raises(ValueError, match="out of range"):
        _decode_gif(bad)


def test_gif_zero_size_descriptor_raises():
    """A zero-area image descriptor is nonconforming — rejected, not
    decoded into an empty frame."""
    from data_pipelines_cu_spark.operators.multimodal import _decode_gif

    for fw, fh in [(0, 1), (1, 0), (0, 0)]:
        bad = _gif_bytes(bytes([0]), 1, 1, fw=fw, fh=fh)
        with pytest.raises(ValueError, match="zero size"):
            _decode_gif(bad)


# --- PCA decimal headroom ------------------------------------------------------


def test_projection_fold_headroom_past_1e18(spark):
    """The ADVICE fix: partial sums crossing the old DECIMAL(30,12)
    18-integer-digit bound (which raised under ANSI / NULLed the row
    without it) must now fold exactly — bit-identical to the
    SUM(CAST(x*w AS DECIMAL(38,12))) aggregate, NULLs contributing 0."""
    vecs = [
        (1, [6.0e17, 6.0e17, 6.0e17, -9.0e17]),  # acc peaks at 1.8e18
        (2, [1.0e20, 1.0e20, None, -5.0e19]),    # products past 1e18 too
        (3, [0.5, -0.25, None, 0.125]),
        (4, [None, None, None, None]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, _v array<double>").select(
        "*", F.array_repeat(F.lit(1.0), 4).alias("_wa")
    )
    got = {
        r["vec_id"]: r["s"]
        for r in df.select(
            "vec_id",
            F.expr(ml.projection_fold_expr()).cast("double").alias("s"),
        ).collect()
    }
    exp = {
        r["vec_id"]: r["s"]
        for r in df.select(
            "vec_id", F.posexplode("_v").alias("_j", "_x"), "_wa"
        )
        .groupBy("vec_id")
        .agg(
            F.sum(
                (F.col("_x") * F.lit(1.0)).cast("decimal(38,12)")
            )
            .cast("double")
            .alias("s")
        )
        .collect()
    }
    # the all-NULL row: SUM skips every NULL -> NULL; the fold's coalesce
    # yields exact 0 — pin the documented difference, then compare the rest
    assert got.pop(4) == 0.0
    assert exp.pop(4) is None
    assert got == exp
    assert got[1] == 9.0e17  # crossed 1.8e18 mid-fold and came back exact


# --- CUSUM degenerate series ---------------------------------------------------


def _cusum_brute(day_counts):
    """Reference argmax of |D·S_t − t·S_D| with earliest-day tiebreak."""
    days = sorted(day_counts)
    nd, sd = len(days), sum(day_counts.values())
    s = 0
    best = None
    for t, d in enumerate(days, start=1):
        s += day_counts[d]
        g = abs(nd * s - t * sd)
        if best is None or g > best[0]:
            best = (g, d, t, s)
    g, d, t, s = best
    return {
        "change_day": d,
        "n_days": nd,
        "cusum_peak": round(g / nd, 6),
        "mean_before": round(s / t, 6),
        "mean_after": round((sd - s) / (nd - t), 6) if t < nd else None,
    }


def _run_cusum(spark, day_counts):
    daily = spark.createDataFrame(
        sorted(day_counts.items()), "event_date string, n long"
    )
    return ag.cusum_from_daily(daily).collect()[0].asDict()


def test_cusum_single_day(spark):
    """One-day corpus: the only |G| is 0, change_day is that day,
    mean_after NULL (argmax == last day)."""
    got = _run_cusum(spark, {"2024-03-01": 42})
    assert got == {
        "change_day": "2024-03-01",
        "n_days": 1,
        "cusum_peak": 0.0,
        "mean_before": 42.0,
        "mean_after": None,
    }


def test_cusum_constant_series_all_ties(spark):
    """A constant series ties every |G| at 0 — the earliest day wins (the
    documented tiebreak), mean_after equals mean_before."""
    counts = {f"2024-03-{d:02d}": 7 for d in range(1, 11)}
    got = _run_cusum(spark, counts)
    assert got == _cusum_brute(counts)
    assert got["change_day"] == "2024-03-01"
    assert got["cusum_peak"] == 0.0


def test_cusum_duplicate_peak_ties_pick_earliest(spark):
    """A symmetric step series puts the SAME max |G| on two days —
    engine and brute-force must pick the earliest, not an arbitrary
    partition-order winner."""
    # counts 1,1,5,1,1: S = 1,2,7,8,9; g_t = |5*S_t - t*9| -> 4, 8, 8,
    # 4, 0: exact tie between day 2 and day 3 — earliest wins
    counts = dict(
        zip(
            [f"2024-03-{d:02d}" for d in range(1, 6)],
            [1, 1, 5, 1, 1],
        )
    )
    brute = _cusum_brute(counts)
    got = _run_cusum(spark, counts)
    assert got == brute
    assert got["change_day"] == "2024-03-02"


# --- approx_daily_users bounds oracle (verdict item 7) -------------------------


def test_approx_daily_users_within_hll_bounds(spark, sf_dir):
    """The registry's one rows-only gate row gets a deterministic
    acceptance criterion: every day's HLL++ estimate (rsd=0.02) must sit
    within 3·rsd of the exact per-day distinct count (plus a tiny
    absolute slack for near-empty days) — the bound HLL++ guarantees with
    overwhelming probability and the driver's rows-only gate cannot see."""
    from data_pipelines_cu_spark.queries import all_queries

    q = all_queries()
    approx = {
        r["date"]: r["approx_dau"]
        for r in q["approx_daily_users"].fn(spark, sf_dir).collect()
    }
    exact = {
        r["date"]: r["dau"]
        for r in q["daily_active_users"].fn(spark, sf_dir).collect()
    }
    assert set(approx) == set(exact)
    assert approx, "no days at test SF"
    rsd = 0.02
    for day, est in approx.items():
        tol = max(3 * rsd * exact[day], 2)
        assert abs(est - exact[day]) <= tol, (day, est, exact[day])


# --- MJPEG-in-AVI video container (verdict item 8) -----------------------------


def _frames(n, h, w, seed=0):
    import numpy as np

    rng = np.random.RandomState(seed)
    # flat per-frame colors: baseline JPEG round-trips these near-exactly
    # (hard edges ring by design — fidelity is the JPEG suite's job; here
    # the point is the container split/identity per frame)
    out = []
    for i in range(n):
        f = np.zeros((h, w, 3), np.uint8)
        f[:, :, :] = rng.randint(16, 240, size=3, dtype=np.uint8)
        out.append(f)
    return out


def test_avi_mjpeg_round_trip_first_frame():
    """encode_avi_mjpeg -> decode_pixels returns the FIRST frame within
    JPEG tolerance, across odd shapes and frame counts; the splitter
    yields every frame as a standalone decodable JPEG."""
    import numpy as np

    from data_pipelines_cu_spark.operators import multimodal as mm

    for n, h, w, seed in [(1, 8, 8, 0), (3, 17, 9, 1), (5, 24, 40, 2)]:
        frames = _frames(n, h, w, seed)
        blob = enc.encode_avi_mjpeg(frames)
        split = mm.avi_mjpeg_frames(blob)
        assert len(split) == n
        first = mm.decode_pixels(blob)
        assert first.shape == (h, w, 3)
        assert np.abs(first.astype(int) - frames[0].astype(int)).max() <= 4
        for i, fr in enumerate(split):
            px = mm.decode_pixels(fr)
            assert (
                np.abs(px.astype(int) - frames[i].astype(int)).max() <= 4
            ), (n, i)
        assert mm.avi_frame_count(blob) == n


def test_avi_rejects_other_codecs_and_corruption():
    import pytest as _pytest

    from data_pipelines_cu_spark.operators import multimodal as mm

    blob = bytearray(enc.encode_avi_mjpeg(_frames(2, 8, 8)))
    # flip the strh handler + strf biCompression fourccs to H264
    i = blob.find(b"MJPG")
    while i != -1:
        blob[i : i + 4] = b"H264"
        i = blob.find(b"MJPG")
    with _pytest.raises(ValueError, match="codec"):
        mm.avi_mjpeg_frames(bytes(blob))
    good = enc.encode_avi_mjpeg(_frames(2, 8, 8))
    with _pytest.raises(ValueError):
        mm.avi_mjpeg_frames(good[:40])  # truncated chunk run
    with _pytest.raises(ValueError, match="RIFF/AVI"):
        mm.avi_mjpeg_frames(b"RIFF\x04\x00\x00\x00WAVE")
    with _pytest.raises(ValueError):
        enc.encode_avi_mjpeg([])


def test_avi_real_frame_sampling_end_to_end(spark):
    """sample_frames_mjpeg: true per-container frame counts fan out
    JVM-side, the real kernel decodes + grayscales each sampled frame —
    one row per (video, sampled frame) with w*h raster bytes."""
    import numpy as np

    from data_pipelines_cu_spark.operators import multimodal as mm

    vids = [
        (1, enc.encode_avi_mjpeg(_frames(5, 16, 16, 3))),
        (2, enc.encode_avi_mjpeg(_frames(2, 16, 16, 4))),
    ]
    df = spark.createDataFrame(vids, "media_id long, payload binary")
    out = mm.sample_frames_mjpeg(df, every_n=2, out_w=4, out_h=4)
    rows = {(r.media_id, r.frame_idx): r for r in out.collect()}
    assert set(rows) == {(1, 0), (1, 2), (1, 4), (2, 0)}
    for r in rows.values():
        assert len(r.frame) == 16 and r.out_w == 4 and r.out_h == 4
    # kernel output matches a direct numpy recompute of frame (1, 2)
    direct = mm.decode_frame_mjpeg(vids[0][1], 2, 4, 4)
    assert rows[(1, 2)].frame == direct
    assert isinstance(np.frombuffer(direct, np.uint8).reshape(4, 4), np.ndarray)


# --- round-8 code-review regressions -------------------------------------------


def test_avi_drop_frames_rec_lists_and_stream_filter():
    """Real-world interleaving: zero-length ##dc drop-frames are skipped,
    frames inside LIST 'rec ' groupings are found, and a second stream's
    chunks are never mixed into the MJPEG frame list."""
    import struct

    from data_pipelines_cu_spark.operators import multimodal as mm

    base = bytearray(enc.encode_avi_mjpeg(_frames(2, 8, 8, 7)))
    # rebuild the movi LIST as: frame0, a drop frame, a foreign
    # stream-1 chunk, then frame1 wrapped in a 'rec ' LIST
    frames = mm.avi_mjpeg_frames(bytes(base))

    def chunk(fourcc, body):
        return fourcc + struct.pack("<I", len(body)) + body + (
            b"\x00" if len(body) & 1 else b""
        )

    rec = chunk(b"LIST", b"rec " + chunk(b"00dc", frames[1]))
    movi_body = (
        b"movi"
        + chunk(b"00dc", frames[0])
        + chunk(b"00dc", b"")              # drop frame
        + chunk(b"01dc", b"NOTJPEG!")      # foreign stream
        + rec
    )
    hdr_end = bytes(base).index(b"LIST", bytes(base).index(b"movi") - 8)
    rebuilt = bytes(base[:hdr_end]) + chunk(b"LIST", movi_body)
    rebuilt = b"RIFF" + struct.pack("<I", len(rebuilt) - 8) + rebuilt[8:]
    got = mm.avi_mjpeg_frames(rebuilt)
    assert got == [frames[0], frames[1]]


def test_avi_bi_rgb_compression_falls_back_to_strh_handler():
    """A muxer writing biCompression=0 (BI_RGB) with fccHandler MJPG must
    still be accepted — the all-zero fourcc no longer overrides strh."""
    from data_pipelines_cu_spark.operators import multimodal as mm

    blob = bytearray(enc.encode_avi_mjpeg(_frames(1, 8, 8, 9)))
    # strf's biCompression sits 16 bytes into the strf body
    strf_at = bytes(blob).index(b"strf") + 8 + 16
    assert bytes(blob[strf_at : strf_at + 4]) == b"MJPG"
    blob[strf_at : strf_at + 4] = b"\x00\x00\x00\x00"
    assert len(mm.avi_mjpeg_frames(bytes(blob))) == 1


def test_sample_frames_mjpeg_honors_id_col(spark):
    from data_pipelines_cu_spark.operators import multimodal as mm

    df = spark.createDataFrame(
        [(7, enc.encode_avi_mjpeg(_frames(3, 8, 8, 5)))],
        "video_id long, payload binary",
    )
    out = mm.sample_frames_mjpeg(df, every_n=2, id_col="video_id").collect()
    assert sorted((r.media_id, r.frame_idx) for r in out) == [(7, 0), (7, 2)]


def test_sample_frames_mjpeg_single_input_scan(spark):
    """The count pass annotates rows in place — the input plan must scan
    once (no join back, no second Generate of the source)."""
    from data_pipelines_cu_spark.operators import multimodal as mm

    df = spark.createDataFrame(
        [(1, enc.encode_avi_mjpeg(_frames(2, 8, 8, 6)))],
        "media_id long, payload binary",
    )
    plan = (
        mm.sample_frames_mjpeg(df, every_n=1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Scan ExistingRDD") <= 1
    assert "Join" not in plan


def test_gif_transparent_only_out_of_range_index_still_decodes():
    """Indices past the palette that are ONLY used transparently render
    fine (background shows through) — strictness applies to rendered
    pixels alone."""
    import struct

    import numpy as np

    from data_pipelines_cu_spark.operators.multimodal import (
        _decode_gif,
        _gif_lzw_encode,
    )

    pal_bits = 1
    data = _gif_lzw_encode(bytes([0, 3]), 2)  # 3 >= 2-entry table
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", 2, 1, 0x80 | (pal_bits - 1), 1, 0)  # bg=1
    out += bytes([10, 20, 30, 200, 210, 220])
    out += b"\x21\xf9\x04\x01\x00\x00\x03\x00"  # GCE: transparent idx 3
    out += struct.pack("<BHHHHB", 0x2C, 0, 0, 2, 1, 0)
    out.append(2)
    out.append(len(data))
    out += data
    out += b"\x00\x3b"
    px = _decode_gif(bytes(out))
    assert px.shape == (1, 2, 3)
    assert list(px[0, 0]) == [10, 20, 30]     # palette 0
    assert list(px[0, 1]) == [200, 210, 220]  # transparent -> background


def test_sample_frames_mjpeg_string_id(spark):
    """Non-long media keys: the count pass and the output schema derive
    the id type from the input, not a hardcoded LongType."""
    from data_pipelines_cu_spark.operators import multimodal as mm

    df = spark.createDataFrame(
        [("vid-a", enc.encode_avi_mjpeg(_frames(2, 8, 8, 8)))],
        "video_id string, payload binary",
    )
    out = mm.sample_frames_mjpeg(df, every_n=1, id_col="video_id").collect()
    assert sorted((r.media_id, r.frame_idx) for r in out) == [
        ("vid-a", 0),
        ("vid-a", 1),
    ]


def test_avi_hex_stream_numbers_accepted():
    """MS-conformant muxers write stream numbers as two HEX digits: an
    MJPEG video at stream 10 ('0Adc' chunks) must still split."""
    import struct

    from data_pipelines_cu_spark.operators import multimodal as mm

    base = enc.encode_avi_mjpeg(_frames(1, 8, 8, 11))
    frames = mm.avi_mjpeg_frames(base)

    def chunk(fourcc, body):
        return fourcc + struct.pack("<I", len(body)) + body + (
            b"\x00" if len(body) & 1 else b""
        )

    def lst(ltype, body):
        return chunk(b"LIST", ltype + body)

    # hdrl with 10 audio strls before the vids strl -> video stream 10
    strh_a = b"auds" + b"\x00" * 48
    strf_a = b"\x00" * 16
    audio_strl = lst(b"strl", chunk(b"strh", strh_a) + chunk(b"strf", strf_a))
    strh_v = (
        b"vids" + b"MJPG"
        + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, 10, 0, 1, 99, 0, 0)
        + struct.pack("<4H", 0, 0, 8, 8)
    )
    strf_v = struct.pack(
        "<IiiHHIIiiII", 40, 8, 8, 1, 24,
        struct.unpack("<I", b"MJPG")[0], 192, 0, 0, 0, 0,
    )
    avih = struct.pack("<14I", 100000, 0, 0, 0x10, 1, 0, 11, 99, 8, 8, 0, 0, 0, 0)
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + audio_strl * 10
        + lst(b"strl", chunk(b"strh", strh_v) + chunk(b"strf", strf_v)),
    )
    movi = lst(b"movi", chunk(b"0Adc", frames[0]))
    body = b"AVI " + hdrl + movi
    blob = b"RIFF" + struct.pack("<I", len(body)) + body
    assert mm.avi_mjpeg_frames(blob) == [frames[0]]


def test_avi_hex_spelling_not_absorbed_when_decimal_stream_exists():
    """Video at stream 16 spells hex '10' — but if the file ALSO has a
    stream 10, '10dc' chunks belong to that stream decimally and must
    not be mixed into the MJPEG frame list."""
    import struct

    from data_pipelines_cu_spark.operators import multimodal as mm

    base = enc.encode_avi_mjpeg(_frames(1, 8, 8, 13))
    frames = mm.avi_mjpeg_frames(base)

    def chunk(fourcc, body):
        return fourcc + struct.pack("<I", len(body)) + body + (
            b"\x00" if len(body) & 1 else b""
        )

    def lst(ltype, body):
        return chunk(b"LIST", ltype + body)

    strh_a = b"auds" + b"\x00" * 48
    audio_strl = lst(b"strl", chunk(b"strh", strh_a) + chunk(b"strf", b"\x00" * 16))
    strh_v = (
        b"vids" + b"MJPG"
        + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, 10, 0, 1, 99, 0, 0)
        + struct.pack("<4H", 0, 0, 8, 8)
    )
    strf_v = struct.pack(
        "<IiiHHIIiiII", 40, 8, 8, 1, 24,
        struct.unpack("<I", b"MJPG")[0], 192, 0, 0, 0, 0,
    )
    avih = struct.pack("<14I", 100000, 0, 0, 0x10, 17, 0, 1, 99, 8, 8, 0, 0, 0, 0)
    # 16 audio streams (0..15), video at stream 16
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + audio_strl * 16
        + lst(b"strl", chunk(b"strh", strh_v) + chunk(b"strf", strf_v)),
    )
    movi = lst(
        b"movi",
        chunk(b"10dc", b"NOTJPEG!")  # stream 10's chunk, decimal spelling
        + chunk(b"16dc", frames[0]),  # the video frame, decimal spelling
    )
    body = b"AVI " + hdrl + movi
    blob = b"RIFF" + struct.pack("<I", len(body)) + body
    # '10dc' must be ignored (its SOI check would otherwise raise)
    assert mm.avi_mjpeg_frames(blob) == [frames[0]]
