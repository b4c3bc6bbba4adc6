"""Round-9 regression tests: the blocked-rank family's block count (the
session's shuffle width), take_ordered's probe-free width + boundary
probes (AT the threshold, AT the merge budget, n >= row count on the
blocked path, the EliminateLimits bounded-plan carve-out), spark.graft.reliableCuts
reaching the blocked-rank consumers, the now-LAZY interval-join lane
gate (no job at plan-build time), AVI stream ids past 99 (hex spelling)
and past 0xFF (explicit reject), and frame sampling with every_n above
every container's frame count."""

from __future__ import annotations

import struct
from contextlib import contextmanager

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from data_pipelines_cu_spark.operators import aggregates as ag
from data_pipelines_cu_spark.operators import joins as jn
from data_pipelines_cu_spark.operators import text as tx
from data_pipelines_cu_spark.operators import windows as win
from data_pipelines_cu_spark.operators.materialize import RELIABLE_CUTS_CONF
from data_pipelines_cu_spark.operators.windows import (
    blocked_row_number,
    take_ordered,
)
from tests import media_encoders as enc


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _ids(df, col="id"):
    return sorted(r[col] for r in df.collect())


# --- block count ---------------------------------------------------------------


def test_blocked_rank_uses_derived_width_and_stays_exact(spark, monkeypatch):
    """The block count is the session's shuffle width
    (post_shuffle_width, read once per rank): the rank exchange runs at
    that width — 64 here — and ranks are invariant to the block count
    under a total order, so the window-function oracle stays
    byte-identical."""
    df = (
        spark.range(2000)
        .select("id", (F.col("id") % 131).alias("v"))
        .repartition(64)
    )
    widths = []

    def recording(session):
        widths.append(64)
        return 64

    monkeypatch.setattr(win, "post_shuffle_width", recording)
    got = blocked_row_number(df, ["v", "id"], "r")
    assert widths == [64]
    assert got.rdd.getNumPartitions() == 64
    exp = df.withColumn("e", F.row_number().over(W.orderBy("v", "id")))
    assert (
        got.join(exp.select("id", "e"), "id").filter("r <> e").count() == 0
    )


# --- take_ordered width ------------------------------------------------------


def test_take_ordered_skips_plan_compile_outside_borderline_band(
    spark, monkeypatch
):
    """take_ordered never converts its input to an RDD to price the
    merge (a plan compile, and under AQE a hidden job): the
    width is the session's shuffle width on every n and both
    branches."""
    df = spark.range(4000).select("id", (F.col("id") % 7).alias("v"))
    cls = type(df)  # the concrete (classic) DataFrame, not the base
    compiles = []
    orig = cls.__dict__["rdd"]  # a functools.cached_property

    def counting(self):
        compiles.append(1)
        return orig.__get__(self, cls)

    monkeypatch.setattr(cls, "rdd", property(counting))
    order = [F.col("v").desc(), F.col("id")]
    take_ordered(df, order, 50)
    take_ordered(df, order, 300)
    monkeypatch.setattr(win, "MERGE_ROWS_BUDGET", 0)
    take_ordered(df, order, 300)  # blocked branch
    assert not compiles


def test_take_ordered_at_threshold_boundary(spark):
    """Exactly AT topKSortFallbackThreshold the fast path is forbidden
    (Catalyst's own fallback there is the single-task global sort);
    one below it stays TakeOrderedAndProject. Both row sets exact."""
    df = spark.createDataFrame(
        [(i, i % 13) for i in range(400)], "id long, v long"
    )
    order = [F.col("v").desc(), F.col("id")]
    exp9 = _ids(df.orderBy(*order).limit(9))
    exp10 = _ids(df.orderBy(*order).limit(10))
    key = "spark.sql.execution.topKSortFallbackThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "10")
    try:
        fast = take_ordered(df, order, 9)
        assert "TakeOrderedAndProject" in _plan(fast)
        assert _ids(fast) == exp9
        at = take_ordered(df, order, 10)
        assert "TakeOrderedAndProject" not in _plan(at)
        assert _ids(at) == exp10
    finally:
        spark.conf.set(key, old)


def test_take_ordered_at_merge_budget_boundary(spark, monkeypatch):
    """n × width == budget takes the fast path (<=); one less budget
    goes blocked — and the blocked path over 64 blocks with only 400
    rows (many EMPTY blocks) still ranks exactly."""
    df = (
        spark.createDataFrame([(i, i % 13) for i in range(400)], "id long, v long")
        .repartition(64)
    )
    width = 64
    monkeypatch.setattr(win, "post_shuffle_width", lambda session: width)
    order = [F.col("v").desc(), F.col("id")]
    exp = _ids(df.orderBy(*order).limit(10))
    monkeypatch.setattr(win, "MERGE_ROWS_BUDGET", 10 * width)
    fast = take_ordered(df, order, 10)
    assert "TakeOrderedAndProject" in _plan(fast)
    assert _ids(fast) == exp
    monkeypatch.setattr(win, "MERGE_ROWS_BUDGET", 10 * width - 1)
    blocked = take_ordered(df, order, 10)
    assert "TakeOrderedAndProject" not in _plan(blocked)
    assert _ids(blocked) == exp


def test_take_ordered_n_past_row_count_on_blocked_path(spark, monkeypatch):
    """n >= the row count on the blocked path returns the WHOLE input
    with exact ranks 1..N (the rank filter keeps everything)."""
    df = spark.createDataFrame(
        [(i, (i * 7) % 50) for i in range(50)], "id long, v long"
    )
    order = [F.col("v").desc(), F.col("id")]
    monkeypatch.setattr(win, "MERGE_ROWS_BUDGET", 1)
    got = take_ordered(df, order, 100, rank_col="rk")
    rows = {r.id: r.rk for r in got.collect()}
    assert len(rows) == 50
    exp = {
        r.id: r.e
        for r in df.withColumn(
            "e", F.row_number().over(W.orderBy(*order))
        ).collect()
    }
    assert rows == {k: int(v) for k, v in exp.items()}


def test_take_ordered_bounded_plan_carveout_still_correct(spark):
    """EliminateLimits drops the fast path's Limit when the child's
    known maxRows <= n (bounded plans like range) and leaves a plain
    Sort — the docstring's documented carve-out. The input is budget-
    bounded by construction, and the RESULT must still be the whole
    input with exact ranks."""
    df = spark.range(100)
    got = take_ordered(df, [F.col("id").desc()], 200, rank_col="rk")
    rows = sorted((r.id, r.rk) for r in got.collect())
    assert rows == [(i, 100 - i) for i in range(100)]


# --- materialize plumbed through the blocked-rank consumers -------------------


@pytest.fixture()
def ckpt_dir(spark, tmp_path):
    sc = spark.sparkContext
    old = sc._jsc.sc().getCheckpointDir()
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    yield tmp_path / "ckpt"
    if old.isDefined():
        sc.setCheckpointDir(old.get())


@contextmanager
def _reliable_cuts(spark):
    spark.conf.set(RELIABLE_CUTS_CONF, "true")
    try:
        yield
    finally:
        spark.conf.set(RELIABLE_CUTS_CONF, "false")


def test_psi_value_drift_reliable_materialize(spark, ckpt_dir):
    rows = [
        (i, f"2024-01-{1 + (i % 10):02d} 00:00:00", float((i * 13) % 97))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "event_id long, ts string, value double")
    local = sorted(map(tuple, ag.psi_value_drift(df).collect()))
    with _reliable_cuts(spark):
        rel = sorted(map(tuple, ag.psi_value_drift(df).collect()))
    assert local == rel
    assert list(ckpt_dir.rglob("*")), "reliable cut wrote nothing"


def test_gini_and_calibrate_reliable_materialize(spark, ckpt_dir):
    ents = spark.createDataFrame([(i,) for i in range(40)], "c_custkey long")
    fact = spark.createDataFrame(
        [(i % 25, float(10 + i)) for i in range(200)],
        "o_custkey long, o_totalprice double",
    )
    docs = spark.createDataFrame(
        [(i, f"s{i % 3}", float((i * 31) % 83)) for i in range(120)],
        "doc_id long, source string, quality double",
    )
    g_loc = sorted(map(tuple, ag.gini_concentration(ents, fact).collect()))
    c_loc = sorted(map(tuple, tx.quality_quantile_calibrate(docs).collect()))
    with _reliable_cuts(spark):
        g_rel = sorted(map(tuple, ag.gini_concentration(ents, fact).collect()))
        c_rel = sorted(
            map(tuple, tx.quality_quantile_calibrate(docs).collect())
        )
    assert g_loc == g_rel
    assert c_loc == c_rel
    assert list(ckpt_dir.rglob("*"))


def test_rfm_query_reliable_materialize(spark, sf_dir, ckpt_dir):
    from data_pipelines_cu_spark.queries import all_queries

    fn = all_queries()["customer_rfm_segments"].fn
    loc = sorted(map(tuple, fn(spark, sf_dir).collect()))
    with _reliable_cuts(spark):
        rel = sorted(map(tuple, fn(spark, sf_dir).collect()))
    assert loc == rel


# --- interval join: lazy lane gate -------------------------------------------


def test_interval_point_join_is_lazy(spark):
    """Building the plan runs NO job: an interval side that raises on
    execution still builds (the old .first() probe would explode), and
    only collecting raises."""
    pts = spark.range(10).select((F.col("id") * 100).alias("t_us"))
    # the poison lives INSIDE end_us (a free-standing column would be
    # pruned): any evaluation of the interval side raises
    ivs = spark.createDataFrame(
        [(0, 500)], "start_us long, end_us long"
    ).select(
        "start_us",
        F.when(
            F.expr("assert_true(end_us < 0)").isNull(), F.col("end_us")
        ).alias("end_us"),
    )
    j = jn.interval_point_join(pts, ivs, bucket_us=100, long_factor=4)
    with pytest.raises(Exception):  # noqa: B017 (any execution error)
        j.count()


def test_interval_join_lane_parity_and_prefilter(spark):
    """The broadcast-flag lane gate reproduces the cross-join reference
    with and without long intervals; a table emptied BY the inverted-
    interval prefilter yields zero matches, not a crash."""
    pts = spark.range(100).select((F.col("id") * 10).alias("t_us"))
    short = spark.createDataFrame(
        [(50, 200), (900, 950)], "start_us long, end_us long"
    )
    mixed = spark.createDataFrame(
        [(50, 200), (0, 990), (900, 950)], "start_us long, end_us long"
    )
    for ivs in (short, mixed):
        exp = (
            pts.crossJoin(ivs)
            .filter("t_us >= start_us and t_us <= end_us")
            .count()
        )
        got = jn.interval_point_join(
            pts, ivs, bucket_us=100, long_factor=4
        ).count()
        assert got == exp and exp > 0
    inverted = spark.createDataFrame(
        [(200, 50), (950, 900)], "start_us long, end_us long"
    )
    assert (
        jn.interval_point_join(
            pts, inverted, bucket_us=100, long_factor=4
        ).count()
        == 0
    )


# --- AVI stream ids past two decimal digits ----------------------------------


def _chunk(fourcc, body):
    return (
        fourcc
        + struct.pack("<I", len(body))
        + body
        + (b"\x00" if len(body) & 1 else b"")
    )


def _list(ltype, body):
    return _chunk(b"LIST", ltype + body)


def _avi_with_stream_index(vids_idx, jpeg):
    """Minimal AVI whose video stream sits at ``vids_idx`` after that
    many audio streams; the frame chunk uses the only spelling that
    FITS two chars (decimal <= 99, hex above)."""
    strls = [
        _list(b"strl", _chunk(b"strh", b"auds" + b"\x00" * 4))
        for _ in range(vids_idx)
    ]
    strls.append(_list(b"strl", _chunk(b"strh", b"vids" + b"MJPG")))
    hdrl = _list(b"hdrl", b"".join(strls))
    prefix = (b"%02d" if vids_idx <= 99 else b"%02X") % vids_idx
    movi = _list(b"movi", _chunk(prefix + b"dc", jpeg))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _one_jpeg():
    import numpy as np

    from data_pipelines_cu_spark.operators import multimodal as mm

    frame = np.full((8, 8, 3), 128, dtype=np.uint8)
    return mm.avi_mjpeg_frames(enc.encode_avi_mjpeg([frame]))[0]


def test_avi_stream_index_over_99_matches_hex_spelling():
    """Stream 100 has no two-char decimal spelling — its hex spelling
    ('64') must be accepted unconditionally, even though a decimal
    stream 64 could theoretically exist."""
    from data_pipelines_cu_spark.operators import multimodal as mm

    jpeg = _one_jpeg()
    frames = mm.avi_mjpeg_frames(_avi_with_stream_index(100, jpeg))
    assert frames == [jpeg]


def test_avi_stream_index_past_0xff_rejected():
    from data_pipelines_cu_spark.operators import multimodal as mm

    with pytest.raises(ValueError, match="0xFF"):
        mm.avi_mjpeg_frames(_avi_with_stream_index(256, _one_jpeg()))


def test_avi_two_digit_stream_still_decimal():
    """Streams <= 99 keep the decimal-first convention (regression for
    the r8 disambiguation rule)."""
    from data_pipelines_cu_spark.operators import multimodal as mm

    jpeg = _one_jpeg()
    frames = mm.avi_mjpeg_frames(_avi_with_stream_index(42, jpeg))
    assert frames == [jpeg]


# --- frame sampling: every_n past the frame count ----------------------------


def test_sample_frames_every_n_past_frame_count(spark):
    """every_n larger than every container's frame count still samples
    frame 0 of each video (sequence(0, n-1, step) always yields 0)."""
    import numpy as np

    from data_pipelines_cu_spark.operators import multimodal as mm

    mk = lambda seed: enc.encode_avi_mjpeg(  # noqa: E731
        [
            np.full((8, 8, 3), 60 + 10 * i + seed, dtype=np.uint8)
            for i in range(3)
        ]
    )
    df = spark.createDataFrame(
        [(1, mk(0)), (2, mk(1))], "media_id long, payload binary"
    )
    out = mm.sample_frames_mjpeg(df, every_n=1000, out_w=4, out_h=4).collect()
    assert sorted((r.media_id, r.frame_idx) for r in out) == [(1, 0), (2, 0)]


# --- WebP lossless (VP8L) codec ----------------------------------------------


def _rt_webp(img, **kw):
    import numpy as np

    from data_pipelines_cu_spark.operators import multimodal as mm

    blob = enc.encode_webp_lossless(img, **kw)
    out = mm.decode_pixels(blob)
    assert np.array_equal(out, img[:, :, :3]), kw
    return blob


def test_webp_lossless_round_trip_every_path():
    """Bit-exact round-trip through every decoder path the format has:
    plain literals, color cache, LZ77 (incl. the 2-D distance plane
    map), subtract-green, cross-color, all 14 predictor modes, stacked
    transforms, and RGBA."""
    import numpy as np

    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, (13, 17, 3), np.uint8)
    _rt_webp(img)
    _rt_webp(img, subtract_green=True)
    _rt_webp(img, cache_bits=6)
    _rt_webp(img, lz77=True)
    flat = np.tile(rng.randint(0, 256, (1, 1, 3), np.uint8), (9, 11, 1))
    _rt_webp(flat, lz77=True, cache_bits=4)  # runs ride the plane map
    for mode in range(14):
        _rt_webp(img, predictor=mode)
    _rt_webp(img, color_transform=(23, -17, 101))
    _rt_webp(
        img, subtract_green=True, predictor=7, color_transform=(5, 9, -3)
    )
    _rt_webp(rng.randint(0, 256, (8, 8, 4), np.uint8))


def test_webp_palette_every_bundling_width():
    """Color-indexing at every sub-byte pixel bundling: 2 colors (8 px/
    byte), 3 (4 px), 12 (2 px), 40 (unbundled) — including a non-
    multiple image width, where the bundled row overhangs."""
    import numpy as np

    rng = np.random.RandomState(11)
    for n_colors, shape in ((2, (5, 9)), (3, (6, 9)), (12, (7, 10)), (40, (9, 13))):
        pal = rng.randint(0, 256, (n_colors, 3), np.uint8)
        idx = rng.randint(0, n_colors, shape)
        # every color present so the palette is fully exercised
        idx.flat[:n_colors] = np.arange(n_colors)
        _rt_webp(pal[idx], palette=True)


def test_webp_decode_rejections():
    import struct

    import numpy as np
    import pytest as _pytest

    from data_pipelines_cu_spark.operators import multimodal as mm

    img = np.zeros((2, 2, 3), np.uint8)
    good = bytearray(enc.encode_webp_lossless(img))
    lossy = bytes(good).replace(b"VP8L", b"VP8 ")
    with _pytest.raises(ValueError, match="lossy"):
        mm.decode_pixels(lossy)
    empty = b"RIFF" + struct.pack("<I", 4) + b"WEBP"
    with _pytest.raises(ValueError, match="no VP8L"):
        mm.decode_pixels(empty)
    bad_sig = bytearray(good)
    bad_sig[bytes(good).index(b"VP8L") + 8] = 0x2E
    with _pytest.raises(ValueError, match="signature"):
        mm.decode_pixels(bytes(bad_sig))


def test_webp_rides_the_media_pipeline(spark):
    """A WebP payload flows through the same Arrow decode plan as the
    other formats (decode_pixels dispatch on the RIFF WEBP magic)."""
    import numpy as np

    from data_pipelines_cu_spark.operators import multimodal as mm

    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, (6, 5, 3), np.uint8)
    blob = enc.encode_webp_lossless(img, subtract_green=True)
    assert np.array_equal(mm.decode_pixels(blob), img)


def test_webp_encoder_validates_arguments():
    """Dimensions past the 14-bit header cap and out-of-range
    cache_bits must fail AT ENCODE, not produce a corrupt blob the
    decoder rejects (or worse, silently mis-sizes)."""
    import numpy as np
    import pytest as _pytest

    from data_pipelines_cu_spark.operators import multimodal as mm

    with _pytest.raises(ValueError, match="16384"):
        enc.encode_webp_lossless(np.zeros((1, 16385, 3), np.uint8))
    img = np.zeros((2, 2, 3), np.uint8)
    for bad in (12, 16, -1):
        with _pytest.raises(ValueError, match="cache_bits"):
            enc.encode_webp_lossless(img, cache_bits=bad)
    # a >512-px dimension spans multiple constant predictor tiles
    wide = np.tile(
        np.arange(600, dtype=np.uint8).reshape(1, 600, 1) % 251, (2, 1, 3)
    )
    _rt_webp(wide, predictor=7)


def test_webp_corrupt_streams_raise_valueerror_only():
    """Deterministic mutation + truncation fuzz: a corrupt VP8L stream
    must surface the documented ValueError, never IndexError/KeyError
    or a hang (10k-case sweep ran clean; this keeps a fast sample as a
    regression gate)."""
    import random

    import numpy as np

    from data_pipelines_cu_spark.operators import multimodal as mm

    rng = np.random.RandomState(5)
    img = rng.randint(0, 256, (9, 11, 3), np.uint8)
    random.seed(42)
    for kw in (dict(subtract_green=True, cache_bits=4, lz77=True), dict(predictor=11)):
        base = enc.encode_webp_lossless(img, **kw)
        for _ in range(400):
            blob = bytearray(base)
            for _ in range(random.randint(1, 4)):
                blob[random.randrange(12, len(blob))] = random.randrange(256)
            try:
                mm.decode_pixels(bytes(blob))
            except ValueError:
                pass
        for cut in range(13, len(base), 11):
            try:
                mm.decode_pixels(base[:cut])
            except ValueError:
                pass


def test_webp_meta_tiling_and_vertical_lz77():
    """The decoder's meta prefix-code recursion and the 2-D plane map's
    vertical (dist = width) entry round-trip — the two decode paths a
    literal-only encoder never reaches."""
    import numpy as np

    rng = np.random.RandomState(1)
    img = rng.randint(0, 256, (20, 23, 3), np.uint8)
    _rt_webp(img, meta_tiling=True)
    _rt_webp(img, meta_tiling=True, cache_bits=5)
    stripes = np.tile(rng.randint(0, 256, (1, 23, 3), np.uint8), (20, 1, 1))
    _rt_webp(stripes, lz77=True)
    _rt_webp(stripes, lz77=True, cache_bits=4)
    mixed = img.copy()
    mixed[7:15, :, :] = mixed[6:7, :, :]
    _rt_webp(mixed, lz77=True, meta_tiling=True)


def test_webp_rejects_zero_dimensions_and_dup_simple_symbols():
    """Zero-size inputs fail at encode (the 14-bit w-1 field would wrap
    0 to 16383); a corrupt 2-symbol simple code repeating one symbol
    raises instead of silently desyncing into a 0-bit code."""
    import numpy as np
    import pytest as _pytest

    from data_pipelines_cu_spark.operators import multimodal as mm

    for shape in ((0, 4, 3), (4, 0, 3)):
        with _pytest.raises(ValueError, match="1..16384"):
            enc.encode_webp_lossless(np.zeros(shape, np.uint8))
    # hand-build a stream whose first prefix code is simple, 2 symbols,
    # both 0x41: header(32) + no-transform(1) + no-cache(1) +
    # no-meta(1) + simple(1) + two-symbols(1) + 8-bit-first(1) +
    # 0x41(8) + 0x41(8)
    bw = enc._Vp8lBitWriter()
    bw.bits(3, 14)  # w-1
    bw.bits(3, 14)  # h-1
    bw.bits(0, 1)
    bw.bits(0, 3)
    bw.bits(0, 1)  # end of transforms
    bw.bits(0, 1)  # no cache
    bw.bits(0, 1)  # no meta
    bw.bits(1, 1)  # simple code
    bw.bits(1, 1)  # 2 symbols
    bw.bits(1, 1)  # first symbol in 8 bits
    bw.bits(0x41, 8)
    bw.bits(0x41, 8)
    blob = b"RIFF\x00\x00\x00\x00WEBPVP8L\x00\x00\x00\x00" + b"\x2f" + bw.bytes()
    import struct as _struct

    body = blob[20:]
    blob = (
        b"RIFF"
        + _struct.pack("<I", len(blob) - 8)
        + b"WEBP"
        + b"VP8L"
        + _struct.pack("<I", len(body))
        + body
    )
    with _pytest.raises(ValueError, match="repeats"):
        mm.decode_pixels(blob)


def test_webp_degenerate_shapes():
    """1x1, single-column (vertical-run guard at w < 3), and
    sub-tile-sized meta images all round-trip."""
    import numpy as np

    rng = np.random.RandomState(9)
    _rt_webp(rng.randint(0, 256, (1, 1, 3), np.uint8))
    col = np.tile(rng.randint(0, 256, (1, 2, 3), np.uint8), (12, 1, 1))
    _rt_webp(col, lz77=True)  # w=2: vertical runs still legal
    _rt_webp(rng.randint(0, 256, (3, 3, 3), np.uint8), meta_tiling=True)


# --- sequence packing ----------------------------------------------------------


def test_pack_sequences_matches_duckdb_twin(spark, sf_dir, duck):
    """Greedy contiguous packing agrees with the recursive-CTE SQL twin
    on the real documents table (bit-for-bit rows, both engines walking
    the same deterministic shard order)."""
    from data_pipelines_cu_spark.operators import sampling as smp

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = sorted(
        map(
            tuple,
            smp.pack_sequences(
                docs, budget=2000, token_col="n_chars", n_shards=4
            )
            .select("doc_id", "shard", "pos", "seq", "seq_pos", "oversize")
            .collect(),
        )
    )
    exp = sorted(
        map(
            tuple,
            duck.sql(
                smp.pack_sequences_sql(2000, n_shards=4)
            ).fetchall(),
        )
    )
    assert got == exp and len(got) > 0


def test_pack_sequences_greedy_properties(spark):
    """Window-level invariants: every non-oversize window fits the
    budget; windows are GREEDY (the first doc of the next window would
    have overflowed); contiguous order is preserved; oversize docs sit
    alone in their window."""
    from data_pipelines_cu_spark.operators import sampling as smp

    rows = [(i, [120, 512, 1, 3000, 480, 2048, 7][i % 7] + i % 13)
            for i in range(160)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = smp.pack_sequences(df, budget=1024, n_shards=3).join(
        df, "doc_id"
    )
    by_window = {}
    for r in out.collect():
        by_window.setdefault((r.shard, r.seq), []).append(r)
    for (shard, seq), members in sorted(by_window.items()):
        members.sort(key=lambda r: r.seq_pos)
        total = sum(r.n_tokens for r in members)
        if any(r.oversize for r in members):
            assert len(members) == 1  # oversize docs pack alone
        else:
            assert total <= 1024, (shard, seq, total)
            nxt = by_window.get((shard, seq + 1))
            if nxt:  # greedy: the next window's head would not have fit
                head = min(nxt, key=lambda r: r.seq_pos)
                assert total + head.n_tokens > 1024 or head.oversize
        # contiguity: positions inside a window are consecutive in pos
        poss = [r.pos for r in members]
        assert poss == list(range(min(poss), min(poss) + len(poss)))


def test_pack_sequences_degenerate_inputs(spark):
    from data_pipelines_cu_spark.operators import sampling as smp

    empty = spark.createDataFrame([], "doc_id long, n_tokens long")
    assert smp.pack_sequences(empty, budget=100).count() == 0
    all_over = spark.createDataFrame(
        [(i, 500 + i) for i in range(9)], "doc_id long, n_tokens long"
    )
    out = smp.pack_sequences(all_over, budget=100, n_shards=2).collect()
    assert len(out) == 9 and all(r.oversize and r.seq_pos == 0 for r in out)
    # every window holds exactly one doc
    assert len({(r.shard, r.seq) for r in out}) == 9


def test_streaming_pack_matches_batch(spark, tmp_path):
    """Streaming packer parity: packed assignments over three in-order
    micro-batches equal the batch pack_sequences on the union —
    including windows that STRADDLE batch boundaries (the open-window
    state is exactly what the batch fold carries)."""
    import json as _json
    import os

    from data_pipelines_cu_spark.operators import sampling as smp
    from data_pipelines_cu_spark.streaming.jobs import pack_stateful

    docs = spark.createDataFrame(
        [(i, [120, 512, 1, 3000, 480, 2048, 7][i % 7] + i % 13)
         for i in range(90)],
        "doc_id long, n_tokens long",
    )
    batch = {
        r.doc_id: (r.shard, r.pos, r.seq, r.seq_pos, r.oversize)
        for r in smp.pack_sequences(docs, budget=1024, n_shards=3).collect()
    }
    # serve the stream in per-shard pos order: split by GLOBAL pos rank
    # thirds, so every file is a pos-prefix of every shard
    ordered = smp.training_shard_order(docs, "doc_id", 3)
    rows = sorted(
        (
            (r.pos, r.shard, r.doc_id)
            for r in ordered.collect()
        )
    )
    toks = {r.doc_id: r.n_tokens for r in docs.collect()}
    src = tmp_path / "docs_in"
    src.mkdir()
    third = (len(rows) + 2) // 3
    for i in range(3):
        with open(src / f"part-{i}.json", "w") as f:
            for pos, shard, doc_id in rows[i * third : (i + 1) * third]:
                f.write(
                    _json.dumps(
                        {
                            "doc_id": doc_id,
                            "shard": shard,
                            "pos": pos,
                            "n_tokens": toks[doc_id],
                        }
                    )
                    + "\n"
                )
        os.utime(
            src / f"part-{i}.json",
            (1_700_000_000 + i * 60, 1_700_000_000 + i * 60),
        )
    stream = (
        spark.readStream.schema(
            "doc_id long, shard int, pos long, n_tokens long"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out_path = str(tmp_path / "packed")
    q = (
        pack_stateful(stream, budget=1024)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "streaming pack timed out"
    got = {
        r.doc_id: (r.shard, r.pos, r.seq, r.seq_pos, r.oversize)
        for r in spark.read.parquet(out_path).collect()
    }
    assert got == batch and len(got) == 90


def test_pack_sequences_zero_token_and_null_handling(spark):
    """Zero-token docs occupy window slots (the SQL twin's semantics:
    an oversize doc arriving after only zero-token docs CLOSES that
    window), and NULL token counts fail loudly with the offending ids."""
    import pytest as _pytest

    from data_pipelines_cu_spark.operators import sampling as smp

    df = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 5000), (4, 10)], "doc_id long, n_tokens long"
    )
    out = {
        r.doc_id: (r.seq, r.seq_pos, r.oversize)
        for r in smp.pack_sequences(df, budget=1024, n_shards=1).collect()
    }
    over_seq, over_pos, _ = out[3]
    assert over_pos == 0  # oversize doc opens (and owns) its window
    assert sum(1 for s, _, _ in out.values() if s == over_seq) == 1
    # bit-for-bit vs the SQL twin on the same frame via a temp table
    import duckdb

    con = duckdb.connect()
    con.register(
        "docs4",
        spark.createDataFrame(
            [(1, 0), (2, 0), (3, 5000), (4, 10)],
            "doc_id long, n_chars long",
        ).toPandas(),
    )
    exp = sorted(
        map(
            tuple,
            con.sql(
                smp.pack_sequences_sql(1024, table="docs4", n_shards=1)
            ).fetchall(),
        )
    )
    got = sorted(
        map(
            tuple,
            smp.pack_sequences(
                df.withColumnRenamed("n_tokens", "n_chars"),
                budget=1024,
                token_col="n_chars",
                n_shards=1,
            )
            .select("doc_id", "shard", "pos", "seq", "seq_pos", "oversize")
            .collect(),
        )
    )
    assert got == exp
    nulls = spark.createDataFrame(
        [(1, 10), (2, None)], "doc_id long, n_tokens long"
    )
    with _pytest.raises(Exception, match="NULL n_tokens"):
        smp.pack_sequences(nulls, budget=100).collect()


def test_pack_sequences_budget_validation():
    """budget < 1 is rejected loudly at plan-build time on both the
    batch packer and its streaming twin — a non-positive budget makes
    every positive-token doc 'oversize', which is never what a caller
    meant; fail before any executor work."""
    import pytest as _pytest

    from data_pipelines_cu_spark.operators import sampling as smp
    from data_pipelines_cu_spark.streaming.jobs import pack_stateful

    with _pytest.raises(ValueError, match="budget"):
        smp.pack_sequences(None, budget=0)
    with _pytest.raises(ValueError, match="budget"):
        pack_stateful(None, budget=-5)


def test_pack_sequences_exact_fit_boundary(spark):
    """acc + tok == budget does NOT close the window (the overflow test
    is strict >): with every doc exactly budget/2 tokens, every window
    holds exactly TWO docs whatever the md5 order — a >= comparison
    would put each doc alone."""
    from data_pipelines_cu_spark.operators import sampling as smp

    df = spark.createDataFrame(
        [(i, 512) for i in range(8)], "doc_id long, n_tokens long"
    )
    out = smp.pack_sequences(df, budget=1024, n_shards=1).collect()
    sizes = {}
    for r in out:
        sizes[r.seq] = sizes.get(r.seq, 0) + 1
    assert sorted(sizes.values()) == [2, 2, 2, 2]
    assert not any(r.oversize for r in out)


def test_pack_sequences_reference_fold_parity(spark):
    """Randomized parity against a pure-Python greedy fold driven ONLY
    by the operator's own (shard, pos) output order: for each shard,
    re-walk the pos-ordered token stream with the documented recurrence
    and demand identical (seq, seq_pos, oversize) for all 400 docs."""
    import random

    from data_pipelines_cu_spark.operators import sampling as smp

    rng = random.Random(90917)
    rows = [(i, rng.choice([0, 1, 7, 120, 480, 512, 999, 1024, 1025, 3000]))
            for i in range(400)]
    toks = dict(rows)
    budget = 1024
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    got = smp.pack_sequences(df, budget=budget, n_shards=5).collect()
    by_shard: dict[int, list] = {}
    for r in got:
        by_shard.setdefault(r.shard, []).append(r)
    n_checked = 0
    for _shard, members in by_shard.items():
        members.sort(key=lambda r: r.pos)
        seq = acc = seq_pos = 0
        for r in members:
            tok = toks[r.doc_id]
            over = tok > budget
            if seq_pos > 0 and (acc + tok > budget or over):
                seq, acc, seq_pos = seq + 1, 0, 0
            assert (r.seq, r.seq_pos, r.oversize) == (seq, seq_pos, over), (
                r.doc_id
            )
            acc += tok
            seq_pos += 1
            n_checked += 1
            if over:
                seq, acc, seq_pos = seq + 1, 0, 0
    assert n_checked == 400


def test_pack_manifest_matches_duckdb_twin(spark, sf_dir, duck):
    """Per-window manifest agrees with the recursive-walk + join-back
    SQL twin bit-for-bit on the real documents table."""
    from data_pipelines_cu_spark.operators import sampling as smp

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = sorted(
        map(
            tuple,
            smp.pack_manifest(docs, budget=2000, token_col="n_chars")
            .select(
                "shard", "seq", "n_docs", "window_tokens",
                "has_oversize", "fill_rate",
            )
            .collect(),
        )
    )
    exp = sorted(
        map(
            tuple,
            duck.sql(
                """SELECT shard, seq, n_docs, window_tokens,
                          has_oversize, fill_rate FROM ("""
                + smp.pack_manifest_sql(2000)
                + ")"
            ).fetchall(),
        )
    )
    assert got == exp and len(got) > 0


def test_pack_manifest_invariants(spark):
    """Window-level invariants: non-oversize windows fit the budget
    (fill_rate <= 1), oversize windows are singletons with fill_rate >
    1, and every doc lands in exactly one window."""
    from data_pipelines_cu_spark.operators import sampling as smp

    rows = [(i, [120, 512, 1, 3000, 480, 2048, 7][i % 7] + i % 13)
            for i in range(160)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    man = smp.pack_manifest(df, budget=1024, n_shards=3).collect()
    assert sum(r.n_docs for r in man) == 160
    for r in man:
        if r.has_oversize:
            assert r.n_docs == 1 and r.window_tokens > 1024
        else:
            assert r.window_tokens <= 1024
            # 6dp HALF_UP (Spark) vs banker's (Python round) differ by up
            # to one ulp at ties — compare against the unrounded value
            assert abs(r.fill_rate - r.window_tokens / 1024.0) <= 5.1e-7


def test_pack_manifest_plan_has_no_join(spark):
    """The manifest must NOT re-join the corpus: tokens ride through
    the Arrow fold (keep_token_col), so the physical plan contains no
    join operator at all — locking out the two corpus-sized id-hash
    shuffles the join-back shape paid (sf1.0*: wall 1.82->0.95s)."""
    from data_pipelines_cu_spark.operators import sampling as smp

    df = spark.createDataFrame(
        [(i, 100 + i) for i in range(50)], "doc_id long, n_tokens long"
    )
    plan = _plan(smp.pack_manifest(df, budget=1024))
    assert "Join" not in plan, plan


def test_pack_sequences_keep_token_col_schema(spark):
    """keep_token_col=True appends the token column with its input name
    and type; default output schema is unchanged (the registered
    assignment gate row depends on it)."""
    from data_pipelines_cu_spark.operators import sampling as smp

    df = spark.createDataFrame(
        [(1, 10), (2, 2000)], "doc_id long, n_chars long"
    )
    base = smp.pack_sequences(df, budget=100, token_col="n_chars")
    assert base.columns == [
        "doc_id", "shard", "pos", "seq", "seq_pos", "oversize"
    ]
    kept = smp.pack_sequences(
        df, budget=100, token_col="n_chars", keep_token_col=True
    )
    assert kept.columns == base.columns + ["n_chars"]
    assert dict(kept.dtypes)["n_chars"] == "bigint"
    got = {r.doc_id: r.n_chars for r in kept.collect()}
    assert got == {1: 10, 2: 2000}


def test_pack_sequences_reserved_name_collision():
    """An id/token column named like a packer output column fails
    loudly at plan-build time instead of silently corrupting the
    output schema."""
    import pytest as _pytest

    from data_pipelines_cu_spark.operators import sampling as smp

    with _pytest.raises(ValueError, match="collide"):
        smp.pack_sequences(None, budget=100, token_col="seq")
    with _pytest.raises(ValueError, match="collide"):
        smp.pack_sequences(None, budget=100, id_col="shard")
