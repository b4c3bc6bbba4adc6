"""Property-based differential tests (hypothesis): engine operators vs
trusted oracles (pandas, plain-Spark equivalents) on generated inputs.
Deterministic profile — the fixture SparkSession is session-scoped, so
examples must be reproducible."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from data_pipelines_cu_spark.operators import joins, skew, windows
from tests import media_encoders as enc

SETTINGS = dict(
    max_examples=15,
    deadline=None,
    # same example sequence every run: the driver's per-round test runs
    # must not depend on a random Hypothesis seed
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

rows_strategy = st.lists(
    st.tuples(
        st.sampled_from(["k1", "k2", "k3", "hot"]),
        st.integers(min_value=0, max_value=1000),
        st.floats(min_value=-100, max_value=100, allow_nan=False, width=32),
    ),
    min_size=1,
    max_size=60,
)


@given(rows=rows_strategy)
@settings(**SETTINGS)
def test_salted_agg_equals_plain_groupby(spark, rows):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(rows, ["k", "t", "v"])
    plain = {
        r.k: (round(r.s, 6), r.n)
        for r in df.groupBy("k")
        .agg(F.round(F.sum("v"), 6).alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    salted = {
        r.k: (round(r.s, 6), r.n)
        for r in skew.salted_agg(
            df, ["k"], {"s": ("sum", "v"), "n": ("count", "v")}, n_salts=4
        ).collect()
    }
    assert salted == plain


@given(rows=rows_strategy)
@settings(**SETTINGS)
def test_dedup_keep_last_matches_pandas(spark, rows):
    df = spark.createDataFrame(rows, ["k", "t", "v"])
    got = {
        r.k: r.t
        for r in windows.dedup_keep_last(df, ["k"], "t").collect()
    }
    pdf = pd.DataFrame(rows, columns=["k", "t", "v"])
    want = pdf.groupby("k")["t"].max().to_dict()
    assert got == want


@given(
    left=st.lists(
        st.tuples(st.sampled_from(["a", "b"]), st.integers(0, 100)),
        min_size=1,
        max_size=30,
    ),
    right=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(0, 100),
            st.floats(0, 10, allow_nan=False, width=32),
        ),
        min_size=1,
        max_size=30,
    ),
)
@settings(**SETTINGS)
def test_asof_join_matches_pandas_merge_asof(spark, left, right):
    # pandas merge_asof requires unique sort keys per side for a clean
    # comparison: dedupe (key, t), keeping the LAST value for the right
    # side (matching asof_join's max-by-time-then-last-wins window fill)
    lpdf = (
        pd.DataFrame(left, columns=["k", "t"])
        .drop_duplicates()
        .sort_values(["t", "k"])
        .reset_index(drop=True)
    )
    rpdf = (
        pd.DataFrame(right, columns=["k", "t", "px"])
        .drop_duplicates(subset=["k", "t"], keep="last")
        .sort_values(["t", "k"])
        .reset_index(drop=True)
    )
    ldf = spark.createDataFrame(lpdf)
    rdf = spark.createDataFrame(rpdf)
    got = {
        (r.k, r.t): r.r_px
        for r in joins.asof_join(ldf, rdf, on_time="t", by=["k"]).collect()
    }
    want_df = pd.merge_asof(
        lpdf.sort_values("t"),
        rpdf.sort_values("t"),
        on="t",
        by="k",
        direction="backward",
    )
    want = {
        (r.k, r.t): (None if pd.isna(r.px) else r.px)
        for r in want_df.itertuples()
    }
    assert got == want


# --- set-similarity: inverted-index join vs naive set arithmetic ------------
# The Jaccard/containment operators compute |A∩B| from an inverted-index
# join (never materializing pairwise intersections); these differential
# tests recompute every pair naively in Python on generated corpora.

words_strategy = st.lists(
    st.lists(st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"]),
             min_size=0, max_size=12),
    min_size=2,
    max_size=10,
)


def _grams(ws, n=3):
    return {" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)}


@given(docs=words_strategy)
@settings(**SETTINGS)
def test_jaccard_pairs_match_naive_sets(spark, docs):
    from data_pipelines_cu_spark.operators import dedup as dd

    rows = [(i, " ".join(ws), "blk") for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    got = {
        (r.id_a, r.id_b): r.jac
        for r in dd.ngram_jaccard_pairs(df, "lang", threshold=0.3).collect()
    }
    want = {}
    for i, a in enumerate(docs):
        for j in range(i + 1, len(docs)):
            ga, gb = _grams(a), _grams(docs[j])
            inter = len(ga & gb)
            union = len(ga) + len(gb) - inter
            jac = inter / union if union else 0.0
            if jac >= 0.3:
                want[(i, j)] = round(jac, 6)
    assert got == want


@given(docs=words_strategy)
@settings(**SETTINGS)
@pytest.mark.tier2
def test_containment_pairs_match_naive_sets(spark, docs):
    from data_pipelines_cu_spark.operators import dedup as dd

    rows = [(i, " ".join(ws), "blk") for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    got = {
        (r.id_a, r.id_b): r.containment
        for r in dd.ngram_containment_pairs(df, "lang", threshold=0.5).collect()
    }
    want = {}
    for i, a in enumerate(docs):
        for j, b in enumerate(docs):
            if i == j:
                continue
            ga, gb = _grams(a), _grams(b)
            if not ga:
                continue
            c = len(ga & gb) / len(ga)
            if c >= 0.5:
                want[(i, j)] = round(c, 6)
    assert got == want


@given(
    h=st.integers(min_value=1, max_value=9),
    w=st.integers(min_value=1, max_value=9),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(**SETTINGS)
def test_pixel_codecs_round_trip_any_shape(h, w, seed):
    """encode->decode is the identity for BOTH codecs on arbitrary pixel
    arrays and shapes (odd widths exercise BMP's 4-byte row padding), and
    real nearest-neighbor resize always yields a decodable image of the
    requested shape whose pixels are a subset of the source's."""
    import numpy as np

    from data_pipelines_cu_spark.operators import multimodal as mm

    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    assert np.array_equal(mm.decode_pixels(mm.encode_ppm(px)), px)
    assert np.array_equal(mm.decode_pixels(mm.encode_bmp(px)), px)
    out = mm.decode_pixels(mm.resize_image_real(mm.encode_ppm(px), 3, 2))
    assert out.shape == (2, 3, 3)
    src_pixels = {tuple(p) for p in px.reshape(-1, 3)}
    assert all(tuple(p) in src_pixels for p in out.reshape(-1, 3))


@given(
    values=st.lists(
        st.integers(min_value=0, max_value=10_000), min_size=1, max_size=300
    ),
    split=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(**SETTINGS)
def test_kmv_merge_invariant_any_partitioning(spark, values, split):
    """KMV sketches merge identically no matter how the values are split
    across shards — the property that makes per-partition sketches safe to
    roll up. Estimate for < k distinct values is exact."""
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.operators import sketches as sk

    df = spark.createDataFrame(
        [(v,) for v in values], "v long"
    ).select(F.lit("g").alias("g"), F.col("v").cast("string").alias("v"))
    h1 = df.filter(F.crc32(F.concat(F.lit(str(split)), "v")) % 2 == 0)
    h2 = df.filter(F.crc32(F.concat(F.lit(str(split)), "v")) % 2 == 1)
    merged = sk.kmv_merge(
        sk.kmv_sketch(h1, ["g"], "v").unionByName(sk.kmv_sketch(h2, ["g"], "v")),
        ["g"],
    ).collect()
    single = sk.kmv_sketch(df, ["g"], "v").collect()
    assert [list(r.kmv) for r in merged] == [list(r.kmv) for r in single]
    n_distinct = len(set(values))
    if n_distinct < 64:
        est = sk.kmv_distinct(df, ["g"], "v").collect()[0]
        assert est.kmv_estimate == float(n_distinct)


text_docs_strategy = st.lists(
    st.text(
        alphabet=st.sampled_from(list("ab c")),
        min_size=0,
        max_size=40,
    ),
    min_size=1,
    max_size=12,
)


@given(docs=text_docs_strategy)
@settings(**SETTINGS)
@pytest.mark.tier2
def test_ngram_novelty_invariants(spark, docs):
    """novelty in [0,1]; total novel grams == corpus-wide distinct gram
    count (every gram is novel in exactly one doc); a doc repeated later
    under a higher id contributes zero novel grams."""
    from data_pipelines_cu_spark.operators import dedup as dd

    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dd.ngram_novelty(df, n=2).collect()
    assert all(0.0 <= r.novelty <= 1.0 for r in out)
    assert all(r.n_novel <= r.n_grams for r in out)
    total_novel = sum(r.n_novel for r in out)
    sets = dd.ngram_sets(df, n=2).collect()
    distinct = len({g for r in sets for g in r.grams})
    assert total_novel == distinct
    # append an exact copy of doc 0 under a fresh max id: novelty 0
    if docs[0].count(" ") >= 1 and len(docs[0].split()) >= 2:
        df2 = df.unionByName(
            spark.createDataFrame([(999, docs[0])], "doc_id long, text string")
        )
        out2 = {r.doc_id: r for r in dd.ngram_novelty(df2, n=2).collect()}
        if 999 in out2:
            assert out2[999].n_novel == 0


@given(
    n_rows=st.integers(min_value=1, max_value=40),
    k=st.integers(min_value=2, max_value=6),
)
@settings(**SETTINGS)
def test_stratified_kfold_exactly_balanced(spark, n_rows, k):
    from data_pipelines_cu_spark.operators import sampling as smp

    rows = [(i, ["x", "y"][i % 2]) for i in range(n_rows)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = smp.stratified_kfold(df, k=k).collect()
    assert len(out) == n_rows
    # per stratum, fold sizes differ by at most 1 (exact deal)
    from collections import Counter

    for lang in {"x", "y"}:
        sizes = Counter(r.fold for r in out if r.lang == lang)
        if sizes:
            assert max(sizes.values()) - min(sizes.values()) <= 1
    # deterministic under re-run
    again = smp.stratified_kfold(df, k=k).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


@given(
    n_words=st.integers(min_value=0, max_value=150),
    window=st.integers(min_value=2, max_value=20),
)
@settings(**SETTINGS)
@pytest.mark.tier2
def test_sliding_chunks_cover_every_token(spark, n_words, window):
    """Chunks tile the doc: first chunk starts at token 0, consecutive
    chunks advance by stride, the union of [start, start+len) covers
    [0, n) when stride <= window, and every chunk is non-empty."""
    from data_pipelines_cu_spark.operators import text as tx

    stride = max(1, window // 2)
    text = " ".join(f"w{i}" for i in range(n_words))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out = sorted(
        (r.chunk_idx, r.n_tokens)
        for r in tx.sliding_token_chunks(
            df, window=window, stride=stride
        ).collect()
    )
    n = max(n_words, 1)  # empty text still tokenizes to one '' token
    assert out[0][0] == 0
    idxs = [i for i, _ in out]
    assert idxs == list(range(len(out)))
    covered = max(i * stride + ln for i, ln in out)
    assert covered == n
    assert all(ln >= 1 for _, ln in out)
    # no chunk starts at or past the end
    assert all(i * stride < n for i, _ in out)


@given(
    scores=st.lists(
        st.tuples(
            st.sampled_from(["s1", "s2", "s3"]),
            st.integers(min_value=0, max_value=100),
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(**SETTINGS)
@pytest.mark.tier2
def test_quantile_calibration_is_distribution_preserving(spark, scores):
    """Calibrated values are members of the global score multiset; within
    each source, calibration is monotone in the raw rank; a single-source
    corpus calibrates to (approximately) itself: rank r of n maps to the
    global element at ceil(r*N/n) = r when n == N."""
    from data_pipelines_cu_spark.operators import text as tx

    rows = [(i, src, float(v)) for i, (src, v) in enumerate(scores)]
    df = spark.createDataFrame(rows, "doc_id long, source string, quality double")
    out = tx.quality_quantile_calibrate(df).collect()
    assert len(out) == len(rows)
    glob = sorted((float(v), i) for i, (_, v) in enumerate(scores))
    glob_vals = {v for v, _ in glob}
    assert all(r.calibrated in glob_vals for r in out)
    for src in {"s1", "s2", "s3"}:
        rs = sorted((r.src_rank, r.calibrated) for r in out if r.source == src)
        cal = [c for _, c in rs]
        assert cal == sorted(cal)
    only = [(i, "one", float(v)) for i, (_, v) in enumerate(scores)]
    df1 = spark.createDataFrame(only, "doc_id long, source string, quality double")
    out1 = sorted((r.doc_id, r.calibrated) for r in tx.quality_quantile_calibrate(df1).collect())
    want = sorted((i, v) for v, i in glob)
    # single source: rank r maps to global rank r -> the sorted multisets agree
    assert sorted(c for _, c in out1) == sorted(v for v, _ in glob)


@given(
    h=st.integers(min_value=1, max_value=40),
    w=st.integers(min_value=1, max_value=40),
    val=st.integers(min_value=0, max_value=255),
    sub=st.sampled_from(["444", "420"]),
)
@settings(**SETTINGS)
def test_jpeg_flat_field_round_trips_any_shape(h, w, val, sub):
    """Baseline JPEG: ANY image size (odd, 1-pixel, non-MCU-aligned)
    encodes and decodes to the exact shape, and a flat field comes back
    within 1 level (the DC quantization step can shift a flat block by
    at most round-half of quant/8 = 1)."""
    import numpy as np

    from data_pipelines_cu_spark.operators import multimodal as mm

    flat = np.full((h, w, 3), val, dtype=np.uint8)
    out = mm.decode_pixels(mm.encode_jpeg_baseline(flat, subsampling=sub))
    assert out.shape == (h, w, 3)
    assert int(np.abs(out.astype(int) - int(val)).max()) <= 1


event_rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),            # user
        st.integers(min_value=0, max_value=7200),         # seconds offset
        st.sampled_from(["view", "click", "purchase", "error"]),
    ),
    min_size=1,
    max_size=40,
)


def _mk_events(spark, rows):
    data = [
        (u, f"2024-03-01 00:00:00", s, i, t, float(i))
        for i, (u, s, t) in enumerate(rows)
    ]
    from pyspark.sql import functions as F

    return (
        spark.createDataFrame(
            data,
            "user_id long, base string, off long, event_id long, "
            "event_type string, value double",
        )
        .select(
            "user_id",
            "event_id",
            "event_type",
            "value",
            (F.unix_micros(F.to_timestamp("base")) + F.col("off") * 1_000_000)
            .alias("_us"),
        )
        .select(
            "user_id",
            "event_id",
            "event_type",
            "value",
            F.timestamp_micros("_us").alias("ts"),
        )
    )


@given(rows=event_rows_strategy)
@settings(**SETTINGS)
def test_session_conversion_matches_python_referee(spark, rows):
    from collections import defaultdict

    from data_pipelines_cu_spark.operators.windows import session_conversion

    got = {
        (r.user_id, r.session_start_us): (r.n_events, r.funnel_stage, r.converted)
        for r in session_conversion(_mk_events(spark, rows)).collect()
    }
    # referee: sort per user by (ts, event_id); split on >= 30min gaps;
    # fold the same state machine
    per_user = defaultdict(list)
    base_us = got and min(k[1] for k in got)  # not used; recompute below
    for i, (u, s, t) in enumerate(rows):
        per_user[u].append((s, i, t))
    want = {}
    for u, evs in per_user.items():
        evs.sort()
        sessions, cur = [], [evs[0]]
        for e in evs[1:]:
            if e[0] - cur[-1][0] >= 1800:
                sessions.append(cur)
                cur = [e]
            else:
                cur.append(e)
        sessions.append(cur)
        for sess in sessions:
            stage = 0
            for _, _, t in sess:
                if stage == 0 and t == "view":
                    stage = 1
                elif stage == 1 and t == "click":
                    stage = 2
                elif stage == 2 and t == "purchase":
                    stage = 3
            start_us = None  # match on counts; start computed from offset
            want[(u, sess[0][0])] = (len(sess), stage, stage == 3)
    # re-key got by seconds offset from the base timestamp
    if got:
        base = min(
            v for v in (k[1] for k in got)
        ) - min(s for ss in per_user.values() for s, _, _ in ss if True) * 1_000_000
    rekeyed = {}
    for (u, start_us), v in got.items():
        # base timestamp is 2024-03-01 00:00:00 UTC in micros
        off = (start_us - 1_709_251_200_000_000) // 1_000_000
        rekeyed[(u, off)] = v
    assert rekeyed == want


@given(rows=event_rows_strategy)
@settings(**SETTINGS)
def test_debounce_matches_python_referee(spark, rows):
    from collections import defaultdict

    from data_pipelines_cu_spark.operators.windows import debounce_stats

    got = {
        (r.user_id, r.event_type): (r.n_events, r.n_kept)
        for r in debounce_stats(_mk_events(spark, rows)).collect()
    }
    per_key = defaultdict(list)
    for i, (u, s, t) in enumerate(rows):
        per_key[(u, t)].append((s, i))
    want = {}
    for k, evs in per_key.items():
        evs.sort()
        kept = 1
        for (s, _), (ps, _) in zip(evs[1:], evs[:-1]):
            if s - ps >= 10:
                kept += 1
        want[k] = (len(evs), kept)
    assert got == want


@given(rows=event_rows_strategy)
@settings(**SETTINGS)
def test_twap_matches_python_referee(spark, rows):
    from collections import defaultdict

    from data_pipelines_cu_spark.operators.aggregates import time_weighted_avg

    got = {
        (r.event_type, r.event_date): (r.n_intervals, r.twap)
        for r in time_weighted_avg(
            _mk_events(spark, rows), group_col="event_type"
        ).collect()
    }
    per_key = defaultdict(list)
    for i, (u, s, t) in enumerate(rows):
        per_key[t].append((s, i, float(i)))
    want = {}
    for t, evs in per_key.items():
        evs.sort()
        if len(evs) < 2:
            continue
        num = sum(v * (evs[j + 1][0] - s) for j, (s, _, v) in enumerate(evs[:-1]))
        den = sum(evs[j + 1][0] - s for j, (s, _, v) in enumerate(evs[:-1]))
        if den == 0:
            # zero-length total: Spark divides 0/0 -> NaN/None; referee
            # mirrors the same rows being present with null twap
            want[(t, "2024-03-01")] = (len(evs) - 1, None)
        else:
            want[(t, "2024-03-01")] = (len(evs) - 1, round(num / den, 6))
    for k, (n, tw) in want.items():
        assert k in got and got[k][0] == n
        gtw = got[k][1]
        if tw is None:
            import math

            assert gtw is None or math.isnan(gtw)
        else:
            assert abs(gtw - tw) < 1e-9
    assert set(got) == set(want)


@given(
    h=st.integers(min_value=1, max_value=24),
    w=st.integers(min_value=1, max_value=24),
    amp=st.integers(min_value=0, max_value=120),
)
@settings(**SETTINGS)
def test_progressive_jpeg_equals_baseline_any_shape(h, w, amp):
    """Any image size and noise amplitude: progressive decode ==
    baseline decode exactly (same quantized coefficients, different
    entropy arrangement)."""
    import numpy as np

    from data_pipelines_cu_spark.operators import multimodal as mm

    rng = np.random.default_rng(h * 1000 + w * 10 + amp)
    img = (
        np.full((h, w, 3), 128) + rng.integers(-amp, amp + 1, size=(h, w, 3))
    ).clip(0, 255).astype(np.uint8)
    got = mm.decode_pixels(enc.encode_jpeg_progressive(img))
    want = mm.decode_pixels(mm.encode_jpeg_baseline(img))
    assert np.array_equal(got, want)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),
            st.one_of(
                st.none(),
                st.floats(
                    min_value=-50, max_value=50, allow_nan=False, width=32
                ),
            ),
        ),
        min_size=0,
        max_size=80,
        unique_by=lambda r: r[0],
    ),
    n_blocks=st.sampled_from([1, 2, 5, 32]),
    n_tiles=st.sampled_from([1, 3, 4, 10]),
)
@settings(**SETTINGS)
@pytest.mark.tier2
def test_blocked_rank_and_ntile_match_windows(spark, rows, n_blocks, n_tiles):
    """blocked_row_number / blocked_ntile equal the single-window forms on
    ARBITRARY inputs — ties, NULLs, empty, any block count (the property
    the five round-7 rank rewrites rely on for byte-identical oracles).
    The block count is the session's shuffle width, patched per example
    (hypothesis rejects function-scoped fixtures such as monkeypatch)."""
    from unittest import mock

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    df = spark.createDataFrame(rows, "k long, v double")
    exp = {
        (r.k, r.r)
        for r in df.select(
            "k", F.row_number().over(W.orderBy("v", "k")).alias("r")
        ).collect()
    }
    exp_t = {
        (r.k, r.t)
        for r in df.select(
            "k", F.ntile(n_tiles).over(W.orderBy("v", "k")).alias("t")
        ).collect()
    }
    with mock.patch.object(
        windows, "post_shuffle_width", lambda session: n_blocks
    ):
        got = {
            (r.k, r.r)
            for r in windows.blocked_row_number(df, ["v", "k"], rank_col="r")
            .select("k", "r")
            .collect()
        }
        got_t = {
            (r.k, r.t)
            for r in windows.blocked_ntile(
                df, ["v", "k"], n_tiles, out_col="t"
            )
            .select("k", "t")
            .collect()
        }
    assert got == exp
    assert got_t == exp_t


@given(
    h=st.integers(min_value=1, max_value=24),
    w=st.integers(min_value=1, max_value=24),
    n_colors=st.integers(min_value=1, max_value=256),
    interlace=st.booleans(),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(**SETTINGS)
def test_gif_round_trip_any_shape(h, w, n_colors, interlace, seed):
    """encode_gif -> decode_pixels is the identity for ANY palette-bound
    image, shape, palette size (crossing every LZW width boundary), and
    interlace flag."""
    import numpy as np

    from data_pipelines_cu_spark.operators import multimodal as mm

    rng = np.random.default_rng(seed)
    pal = rng.integers(0, 256, size=(n_colors, 3), dtype=np.uint8)
    px = pal[rng.integers(0, n_colors, size=(h, w))]
    assert np.array_equal(
        mm.decode_pixels(mm.encode_gif(px, interlace=interlace)), px
    )


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),
            st.one_of(
                st.none(),
                st.floats(
                    min_value=-50, max_value=50, allow_nan=False, width=32
                ),
            ),
        ),
        min_size=1,
        max_size=50,
        unique_by=lambda t: t[0],
    ),
    n=st.integers(min_value=1, max_value=60),
    boundary=st.sampled_from([3, 1_000_000]),
)
@settings(**SETTINGS)
def test_take_ordered_matches_window_rank_any_boundary(spark, rows, n, boundary):
    """take_ordered == row_number window + filter on any input, on BOTH
    sides of the threshold boundary (lowered to 3 to force the blocked
    path on small n; raised high to force the fast path), including NULL
    sort values (Spark desc = NULLS LAST) and n > row count."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    key = "spark.sql.execution.topKSortFallbackThreshold"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, str(boundary))
        df = spark.createDataFrame(rows, "k long, v float")
        order = [F.col("v").desc(), F.col("k").asc()]
        exp = sorted(
            (r.k, r.r)
            for r in df.select(
                "k", F.row_number().over(W.orderBy(*order)).alias("r")
            )
            .filter(F.col("r") <= n)
            .collect()
        )
        got = sorted(
            (r.k, int(r.r))
            for r in windows.take_ordered(
                df, order, n, rank_col="r"
            ).collect()
        )
        assert got == exp
    finally:
        spark.conf.set(key, old)


@given(
    ivs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2000),
            st.integers(min_value=-100, max_value=2600),
        ),
        min_size=0,
        max_size=25,
    ),
    pts=st.lists(
        st.integers(min_value=-50, max_value=2700),
        min_size=1,
        max_size=40,
    ),
    long_factor=st.sampled_from([None, 4, 64]),
)
@settings(**SETTINGS)
def test_interval_point_join_matches_brute_force(spark, ivs, pts, long_factor):
    """Bucketed interval join == brute-force containment on arbitrary
    interval mixes: inverted spans (start > end), zero-width, spans far
    past long_factor buckets, duplicate points, negative times — every
    lane config yields the identical pair set with no duplicates."""
    iv_rows = [(i, lo, lo + delta) for i, (lo, delta) in enumerate(ivs)]
    pt_rows = [(j, t) for j, t in enumerate(pts)]
    iv_df = spark.createDataFrame(
        iv_rows or [(0, 1, 0)], "session_id long, start_us long, end_us long"
    )
    pt_df = spark.createDataFrame(pt_rows, "event_id long, t_us long")
    got = sorted(
        (r["event_id"], r["session_id"])
        for r in joins.interval_point_join(
            pt_df, iv_df, "t_us", bucket_us=10, long_factor=long_factor
        ).collect()
    )
    brute = sorted(
        (j, i)
        for j, t in pt_rows
        for i, lo, hi in (iv_rows or [(0, 1, 0)])
        if lo <= t <= hi
    )
    assert got == brute
    assert len(got) == len(set(got)), "duplicate pair across lanes"


@given(
    toks=st.lists(
        st.integers(min_value=0, max_value=50), min_size=1, max_size=50
    ),
    budget=st.integers(min_value=1, max_value=40),
    n_shards=st.integers(min_value=1, max_value=4),
)
@settings(**SETTINGS)
@pytest.mark.tier2
def test_pack_sequences_matches_python_referee(spark, toks, budget, n_shards):
    """Greedy contiguous packing vs an independent pure-Python referee
    reimplementing the contract from its prose (deterministic md5
    shard/order, close-on-overflow when non-empty, oversize singletons,
    zero-token docs occupy slots) — generated inputs cover boundary mixes
    (all-zero, all-oversize, exact fills) the fixed-seed probes don't."""
    import hashlib

    from data_pipelines_cu_spark.operators import sampling as smp

    rows = [(i, t) for i, t in enumerate(toks)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    got = {
        r.doc_id: (r.shard, r.pos, r.seq, r.seq_pos, r.oversize)
        for r in smp.pack_sequences(
            df, budget=budget, n_shards=n_shards
        ).collect()
    }

    def md5hex(s: str) -> str:
        return hashlib.md5(s.encode()).hexdigest()

    expected = {}
    for shard in range(n_shards):
        members = sorted(
            (
                (md5hex(f"ord{i}"), i, t)
                for i, t in rows
                if int(md5hex(f"shard{i}")[:8], 16) % n_shards == shard
            ),
        )
        seq = acc = seq_pos = 0
        for pos, (_, i, t) in enumerate(members, start=1):
            over = t > budget
            if seq_pos > 0 and (acc + t > budget or over):
                seq, acc, seq_pos = seq + 1, 0, 0
            expected[i] = (shard, pos, seq, seq_pos, over)
            acc, seq_pos = acc + t, seq_pos + 1
            if over:
                seq, acc, seq_pos = seq + 1, 0, 0
    assert got == expected
