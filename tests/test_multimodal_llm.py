"""Tests for multimodal binary-column plumbing and the LLM extraction
operator (mock mode)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_pipelines_cu_spark.operators import llm, multimodal
from tests import media_encoders as enc


def _media_df(spark):
    rows = [(i, bytes([i]) * (100 * (i + 1))) for i in range(5)]
    return spark.createDataFrame(rows, ["media_id", "payload"])


def test_attach_media_meta(spark):
    df = multimodal.attach_media_meta(_media_df(spark))
    r = df.orderBy("media_id").first()
    assert r.meta.n_bytes == 100
    assert r.meta.mime == "application/octet-stream"


def _image_blobs():
    """The same random 5x7 image as PPM, BMP, PNG and baseline JPEG."""
    import numpy as np

    px = np.random.default_rng(5).integers(0, 256, (5, 7, 3), dtype=np.uint8)
    return [
        enc_fn(px)
        for enc_fn in (
            multimodal.encode_ppm,
            multimodal.encode_bmp,
            multimodal.encode_png,
            multimodal.encode_jpeg_baseline,
        )
    ]


def _blob_df(spark, blobs):
    """One row per blob, then one NULL payload (id = len(blobs))."""
    rows = [(i, bytearray(b)) for i, b in enumerate(blobs)]
    return spark.createDataFrame(
        rows + [(len(blobs), None)], "media_id long, payload binary"
    )


def test_extract_features_stub_deterministic(spark):
    """Real encoded images through the Arrow stage: digest, length and
    decoded-pixel features per blob, identical across runs; a NULL
    payload gives NULL outputs and an undecodable one fails loudly."""
    import hashlib

    blobs = _image_blobs()
    df = _blob_df(spark, blobs)
    a = multimodal.extract_features(df).orderBy("media_id").collect()
    b = multimodal.extract_features(df).orderBy("media_id").collect()
    assert a == b
    assert [r.sha256 for r in a[:-1]] == [
        hashlib.sha256(x).hexdigest() for x in blobs
    ]
    assert [r.n_bytes for r in a[:-1]] == [len(x) for x in blobs]
    for r, x in zip(a, blobs):
        assert r.feature == pytest.approx(
            multimodal.decode_image_real(x), rel=1e-6
        )
        assert all(0.0 <= v <= 1.0 for v in r.feature)
    assert (a[-1].sha256, a[-1].n_bytes, a[-1].feature) == (None, None, None)
    junk = spark.createDataFrame(
        [(1, bytearray(b"not an image"))], "media_id long, payload binary"
    )
    with pytest.raises(Exception, match="ValueError"):
        multimodal.extract_features(junk).collect()


def test_real_decoder_rejects_compressed_formats():
    # a truncated PNG does not decode: the kernel refuses it loudly
    with pytest.raises(ValueError):
        multimodal.decode_image_real(b"\x89PNG")


def test_sample_frames_decode_stage(spark):
    """Frame fan-out carries the blob to the Arrow decode stage: one row
    per sampled frame of a real MJPEG AVI, out_w*out_h grayscale bytes
    per frame, different per frame and identical across runs."""
    import numpy as np

    def video(n_frames):
        return enc.encode_avi_mjpeg(
            [np.full((8, 8, 3), 40 * i + 20, np.uint8) for i in range(n_frames)]
        )

    df = spark.createDataFrame(
        [(1, video(5)), (2, video(2))], "media_id long, payload binary"
    )

    def sample():
        rows = multimodal.sample_frames_mjpeg(df, every_n=2, out_w=4, out_h=3)
        return {(r.media_id, r.frame_idx): r.frame for r in rows.collect()}

    by_key = sample()
    assert set(by_key) == {(1, 0), (1, 2), (1, 4), (2, 0)}
    assert all(len(f) == 12 for f in by_key.values())
    assert by_key[(1, 0)] != by_key[(1, 2)]
    assert by_key == sample()


def test_llm_extract_mock_and_contract(spark):
    docs = spark.createDataFrame(
        [(1, "Paris, cloudy"), (2, "Oslo, snow")], ["id", "text"]
    )
    out = llm.extract_structured(docs, text_col="text", id_col="id")
    rows = {r.id: r for r in out.collect()}
    assert set(rows) == {1, 2}
    assert rows[1].city_label == "Paris"
    assert rows[1].temp_c_max == rows[1].temp_c_current + 3
    gated = llm.contract_gate(out)
    assert gated.count() == 2


def test_llm_contract_gate_raises_on_missing_keys(spark):
    def bad_extractor(text: str) -> str:
        return '{"temp_c_current": 1.0}'  # missing required keys

    docs = spark.createDataFrame([(1, "x")], ["id", "text"])
    out = llm.extract_structured(docs, id_col="id", extractor=bad_extractor)
    with pytest.raises(ValueError, match="required keys"):
        llm.contract_gate(out)


def test_llm_extractor_deterministic(spark):
    docs = spark.createDataFrame([(1, "Berlin, rain")], ["id", "text"])
    a = llm.extract_structured(docs, id_col="id").first()
    b = llm.extract_structured(docs, id_col="id").first()
    assert a == b


def test_resize_images_stub_contract(spark):
    """Resize decodes each real blob to exactly out_w x out_h
    nearest-neighbor pixels, deterministically, passes a NULL payload
    through as NULL, and composes with feature extraction without
    leaving binary columns."""
    import numpy as np

    from data_pipelines_cu_spark.operators import multimodal as mm

    blobs = _image_blobs()
    df = _blob_df(spark, blobs)
    out = mm.resize_images(df, 4, 3)
    rows = {r.media_id: r for r in out.collect()}
    assert all(r.out_w == 4 and r.out_h == 3 for r in rows.values())
    for i, blob in enumerate(blobs):
        src = mm.decode_pixels(blob)
        want = src[(np.arange(3) * 5) // 3][:, (np.arange(4) * 7) // 4]
        assert np.array_equal(mm.decode_pixels(bytes(rows[i].resized)), want)
    assert rows[len(blobs)].resized is None
    again = {r.media_id: r.resized for r in mm.resize_images(df, 4, 3).collect()}
    assert {k: r.resized for k, r in rows.items()} == again
    chained = {
        r.media_id: r.feature
        for r in mm.extract_features(
            out.select("media_id", F.col("resized").alias("payload"))
        ).collect()
    }
    assert chained[len(blobs)] is None
    for i in range(len(blobs)):
        assert chained[i] == pytest.approx(
            mm.decode_image_real(bytes(rows[i].resized)), rel=1e-6
        )


def test_real_pixel_codec_round_trip():
    """Pure-numpy BMP and PPM codecs: encode -> decode is the identity on
    real pixel arrays (including BMP's bottom-up BGR row padding)."""
    import numpy as np

    from data_pipelines_cu_spark.operators import multimodal as mm

    rng = np.random.default_rng(7)
    for h, w in [(4, 4), (3, 5), (1, 1), (5, 3)]:  # odd widths hit BMP padding
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert np.array_equal(mm.decode_pixels(mm.encode_ppm(px)), px)
        assert np.array_equal(mm.decode_pixels(mm.encode_bmp(px)), px)


def test_real_decode_features_through_arrow(spark):
    """Actual pixel bytes flow through the Arrow mapInPandas stage: a
    gradient BMP's per-channel-mean features come out exactly as computed
    on the source array — no stub anywhere in the path."""
    import numpy as np

    from data_pipelines_cu_spark.operators import multimodal as mm

    px = np.zeros((4, 4, 3), dtype=np.uint8)
    px[:, :, 0] = 200  # red-dominant
    px[:, :, 2] = np.arange(16).reshape(4, 4) * 10  # blue gradient
    blob = mm.encode_bmp(px)
    df = spark.createDataFrame([(1, bytearray(blob))], "media_id long, payload binary")
    row = mm.extract_features(df).collect()[0]
    feats = row.feature
    assert abs(feats[0] - 200 / 255.0) < 1e-6            # mean R
    assert abs(feats[1]) < 1e-6                          # mean G = 0
    assert abs(feats[2] - px[:, :, 2].mean() / 255.0) < 1e-6  # mean B
    import hashlib

    assert row.sha256 == hashlib.sha256(blob).hexdigest()


def test_real_resize_through_arrow(spark):
    """Real resize on real pixels through mapInPandas: 4x4 gradient ->
    2x2 nearest-neighbor, output decodable PPM with exact sampled pixels."""
    import numpy as np

    from data_pipelines_cu_spark.operators import multimodal as mm

    px = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    df = spark.createDataFrame(
        [(1, bytearray(mm.encode_ppm(px)))], "media_id long, payload binary"
    )
    row = mm.resize_images(df, 2, 2).collect()[0]
    out = mm.decode_pixels(bytes(row.resized))
    assert out.shape == (2, 2, 3)
    assert np.array_equal(out, px[[0, 2]][:, [0, 2]])  # nearest = floor index


def test_real_decode_rejects_unknown_format():
    import pytest as _pytest

    from data_pipelines_cu_spark.operators import multimodal as mm

    with _pytest.raises(ValueError):
        mm.decode_pixels(b"\x89PNG not supported without a codec")


def test_wav_codec_round_trip_and_chunk_walk():
    """PCM WAV encode->decode is the identity (mono and stereo), and the
    RIFF chunk walker survives an extra LIST chunk before data."""
    import struct

    import numpy as np

    from data_pipelines_cu_spark.operators import multimodal as mm

    rng = np.random.default_rng(3)
    mono = rng.integers(-32768, 32767, size=500, dtype=np.int16)
    sr, back = mm.decode_wav(enc.encode_wav(mono, 8000))
    assert sr == 8000 and np.array_equal(back[:, 0], mono)
    stereo = rng.integers(-32768, 32767, size=(300, 2), dtype=np.int16)
    _, back2 = mm.decode_wav(enc.encode_wav(stereo))
    assert np.array_equal(back2, stereo)
    # inject a LIST chunk between fmt and data
    blob = enc.encode_wav(mono, 8000)
    fmt_end = 12 + 8 + 16
    extra = b"LIST" + struct.pack("<I", 4) + b"INFO"
    patched = blob[:fmt_end] + extra + blob[fmt_end:]
    patched = patched[:4] + struct.pack("<I", len(patched) - 8) + patched[8:]
    _, back3 = mm.decode_wav(patched)
    assert np.array_equal(back3[:, 0], mono)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        mm.decode_wav(b"ID3\x03mp3 needs a codec")


def test_wav_chunk_features_real_samples_through_arrow(spark):
    """Real PCM samples flow through the Arrow stage: a square wave's
    per-chunk features come out exactly as computed on the source array
    (mean |amp| = amplitude, zero crossings = cycle count)."""
    import numpy as np

    from data_pipelines_cu_spark.operators import multimodal as mm

    # 100 Hz square wave at 8 kHz: 40 samples per half-period
    t = np.arange(12000)
    wave = np.where((t // 40) % 2 == 0, 1000, -1000).astype(np.int16)
    df = spark.createDataFrame(
        [(1, bytearray(enc.encode_wav(wave, 8000)))],
        "media_id long, payload binary",
    )
    rows = {r.chunk_idx: r for r in
            mm.wav_chunk_features(df, samples_per_chunk=4000).collect()}
    assert set(rows) == {0, 1, 2}
    for r in rows.values():
        assert r.n_samples == 4000
        assert r.mean_abs == 1000.0 and r.peak == 1000
        # 4000 samples / 40-sample half-period = 100 sign flips - 1 fencepost
        assert r.zero_crossings == 99


def test_png_decode_round_trip_and_all_filters():
    """Pure-stdlib PNG decode: encode_png round-trips exactly, and a
    hand-filtered stream exercises every scanline filter type (None, Sub,
    Up, Average, Paeth) against the reference unfilter arithmetic."""
    import struct
    import zlib

    import numpy as np

    from data_pipelines_cu_spark.operators import multimodal as mm

    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, size=(5, 4, 3), dtype=np.uint8)
    assert np.array_equal(mm.decode_pixels(mm.encode_png(px)), px)

    # hand-build a PNG whose 5 rows use filter types 0..4 (applying each
    # filter's forward transform so decode must invert it)
    h, w, bpp = px.shape[0], px.shape[1], 3
    stride = w * bpp
    flat = px.reshape(h, stride).astype(np.int32)
    raw = bytearray()
    for y, ftype in enumerate(range(5)):
        line = flat[y]
        prev = flat[y - 1] if y > 0 else np.zeros(stride, dtype=np.int32)
        out = np.zeros(stride, dtype=np.int32)
        for i in range(stride):
            a = line[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            out[i] = (line[i] - pred) & 0xFF
        raw.append(ftype)
        raw.extend(out.astype(np.uint8).tobytes())

    def chunk(ctype, data):
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

    blob = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(mm.decode_pixels(blob), px)


def test_png_rgba_grey_and_rejects():
    """RGBA drops alpha, greyscale replicates to RGB, palette looks up
    PLTE, 16-bit reduces to high bytes, Adam7 interlace round-trips,
    sub-byte depths unpack big-bit-first; spec-invalid combinations
    error precisely."""
    import struct
    import zlib

    import numpy as np
    import pytest as _pytest

    from data_pipelines_cu_spark.operators import multimodal as mm

    def build(px, color_type, bit_depth=8, interlace=0, plte=None,
              width=None):
        h, w = px.shape[0], (width if width is not None else px.shape[1])
        raw = b"".join(b"\x00" + px[y].tobytes() for y in range(h))

        def chunk(ctype, data):
            crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
            return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

        plte_chunk = chunk(b"PLTE", plte.tobytes()) if plte is not None else b""
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, bit_depth,
                                         color_type, 0, 0, interlace))
            + plte_chunk
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )

    rgba = np.arange(2 * 3 * 4, dtype=np.uint8).reshape(2, 3, 4)
    assert np.array_equal(mm.decode_pixels(build(rgba, 6)), rgba[:, :, :3])
    grey = np.arange(6, dtype=np.uint8).reshape(2, 3, 1)
    out = mm.decode_pixels(build(grey, 0))
    assert np.array_equal(out, np.repeat(grey, 3, axis=2))
    # 8-bit palette PNG: indices look up PLTE entries
    palette = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255], [7, 8, 9]],
                       dtype=np.uint8)
    idxs = np.array([[0, 1, 2], [3, 2, 1]], dtype=np.uint8).reshape(2, 3, 1)
    out = mm.decode_pixels(build(idxs, 3, plte=palette))
    assert np.array_equal(out, palette[idxs[:, :, 0]])
    rgb = np.zeros((2, 3, 3), dtype=np.uint8)
    with _pytest.raises(ValueError, match="missing PLTE"):
        mm.decode_pixels(build(rgb, 3))  # palette without PLTE
    # Adam7 interlace: scatter the image into the 7 passes, each pass an
    # independently-filtered (filter 0) sub-image — must round-trip
    adam7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
             (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
    big = np.arange(9 * 10 * 3, dtype=np.uint8).reshape(9, 10, 3)
    raw7 = bytearray()
    for x0, y0, dx, dy in adam7:
        sub = big[y0::dy, x0::dx, :]
        if sub.size == 0:
            continue
        for row in sub:
            raw7 += b"\x00" + row.tobytes()
    def chunk2(ctype, data):
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)
    blob7 = (
        b"\x89PNG\r\n\x1a\n"
        + chunk2(b"IHDR", struct.pack(">IIBBBBB", 10, 9, 8, 2, 0, 0, 1))
        + chunk2(b"IDAT", zlib.compress(bytes(raw7)))
        + chunk2(b"IEND", b"")
    )
    assert np.array_equal(mm.decode_pixels(blob7), big)
    # 16-bit RGB: big-endian samples reduce to their high byte
    px16 = np.array(
        [[[0x1234, 0xFF00, 0x00FF], [0x8001, 0x0000, 0xFFFF]]],
        dtype=">u2",
    )
    blob16 = build(px16.view(np.uint8).reshape(1, 2, 6), 2, bit_depth=16)
    out16 = mm.decode_pixels(blob16)
    assert np.array_equal(
        out16, (px16.astype(np.uint32) >> 8).astype(np.uint8)
    )
    # 4-bit greyscale: packed two-samples-per-byte, expanded x17
    g4 = np.array([[0x0F, 0x1A, 0x23]], dtype=np.uint8)  # 6 samples, 3 bytes
    blob4 = build(g4.reshape(1, 3, 1), 0, bit_depth=4, width=6)
    want4 = np.array([[0, 15, 1, 10, 2, 3]], dtype=np.uint16) * 17
    out4 = mm.decode_pixels(blob4)
    assert out4.shape == (1, 6, 3)
    assert np.array_equal(out4[:, :, 0], want4.astype(np.uint8))
    # 1-bit palette: one sample per bit, big-bit-first
    p1 = np.array([[0b10110000]], dtype=np.uint8)  # width 5 -> 1,0,1,1,0
    pal2 = np.array([[10, 20, 30], [200, 100, 50]], dtype=np.uint8)
    out1 = mm.decode_pixels(build(p1.reshape(1, 1, 1), 3, bit_depth=1,
                                  plte=pal2, width=5))
    assert np.array_equal(out1, pal2[[1, 0, 1, 1, 0]].reshape(1, 5, 3))
    # spec-invalid combination still errors precisely
    with _pytest.raises(ValueError, match="invalid PNG depth"):
        mm.decode_pixels(build(rgb, 2, bit_depth=4))


def test_png_flows_through_arrow_resize(spark):
    """A real PNG flows decode -> nearest-neighbor resize -> re-encode
    through the mapInPandas kernel, same as PPM/BMP."""
    import numpy as np

    from data_pipelines_cu_spark.operators import multimodal as mm

    px = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    df = spark.createDataFrame(
        [(1, bytearray(mm.encode_png(px)))], "media_id long, payload binary"
    )
    row = mm.resize_images(df, 2, 2).collect()[0]
    out = mm.decode_pixels(bytes(row.resized))
    assert out.shape == (2, 2, 3)
    assert np.array_equal(out, px[[0, 2]][:, [0, 2]])


def test_jpeg_round_trip_all_modes():
    """Baseline JPEG codec: encode (4:4:4 and 4:2:0, with and without
    restart intervals) then decode recovers a smooth gradient within
    quantization error; a flat field is exact."""
    import numpy as np
    import pytest as _pytest

    from data_pipelines_cu_spark.operators import multimodal as mm

    h, w = 35, 50
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [
            xx * 255 / (w - 1),
            yy * 255 / (h - 1),
            (xx + yy) * 255 / (w + h - 2),
        ],
        axis=2,
    ).astype(np.uint8)
    for sub in ("444", "420"):
        for ri in (0, 2):
            blob = mm.encode_jpeg_baseline(img, subsampling=sub, restart_interval=ri)
            assert blob[:2] == b"\xff\xd8" and blob[-2:] == b"\xff\xd9"
            out = mm.decode_pixels(blob)
            assert out.shape == (h, w, 3)
            err = np.abs(out.astype(float) - img.astype(float))
            assert err.max() <= (12 if sub == "444" else 20)
            assert err.mean() < 4
    flat = np.full((8, 8, 3), 200, dtype=np.uint8)
    assert np.array_equal(
        mm.decode_pixels(mm.encode_jpeg_baseline(flat)), flat
    )
    with _pytest.raises(ValueError, match="SOF marker"):
        # extended-sequential SOF1 remains a declared boundary
        blob = mm.encode_jpeg_baseline(flat)
        mm.decode_pixels(blob.replace(b"\xff\xc0", b"\xff\xc1", 1))
    with _pytest.raises(ValueError, match="progressive scan header"):
        # a baseline stream relabeled SOF2 has an illegal scan header
        # (interleaved Ss=0, Se=63) — rejected, not misparsed
        blob = mm.encode_jpeg_baseline(flat)
        mm.decode_pixels(blob.replace(b"\xff\xc0", b"\xff\xc2", 1))


def test_jpeg_flows_through_arrow_decode_and_resize(spark):
    """The reference's actual image payloads are JPEG
    (download_rocket_launches.py:34-41): a real JPEG flows
    decode -> features and decode -> resize through the Arrow
    mapInPandas kernels end-to-end."""
    import numpy as np

    from data_pipelines_cu_spark.operators import multimodal as mm

    px = np.zeros((16, 16, 3), dtype=np.uint8)
    px[:, :, 0] = 200
    blob = mm.encode_jpeg_baseline(px)
    df = spark.createDataFrame(
        [(1, bytearray(blob))], "media_id long, payload binary"
    )
    row = mm.extract_features(df).collect()[0]
    # flat field survives JPEG exactly -> features are exact
    assert abs(row.feature[0] - 200 / 255.0) < 1e-6
    assert abs(row.feature[1]) < 1e-6
    rrow = mm.resize_images(df, 4, 4).collect()[0]
    out = mm.decode_pixels(bytes(rrow.resized))
    assert out.shape == (4, 4, 3)
    assert np.array_equal(out, px[[0, 4, 8, 12]][:, [0, 4, 8, 12]])


def test_transcode_images_any_to_any(spark):
    """The media-sink transcode kernel: a BMP payload and a PNG payload
    both normalize to JPEG through Arrow, and the outputs decode back to
    (near-)identical pixels; NULL payloads pass through as NULL."""
    import numpy as np

    from data_pipelines_cu_spark.operators import multimodal as mm

    px = np.zeros((12, 9, 3), dtype=np.uint8)
    px[:, :, 1] = 200
    df = spark.createDataFrame(
        [
            (1, bytearray(mm.encode_bmp(px))),
            (2, bytearray(mm.encode_png(px))),
            (3, None),
        ],
        "media_id long, payload binary",
    )
    rows = {r.media_id: r for r in mm.transcode_images(df, "jpeg").collect()}
    assert rows[3].transcoded is None
    for mid in (1, 2):
        blob = bytes(rows[mid].transcoded)
        assert blob[:2] == b"\xff\xd8"
        out = mm.decode_pixels(blob)
        assert out.shape == (12, 9, 3)
        assert np.abs(out.astype(int) - px.astype(int)).max() <= 2
    # and JPEG -> PNG round-trips losslessly from the decoded pixels
    back = mm.transcode_image(bytes(rows[1].transcoded), "png")
    assert np.array_equal(
        mm.decode_pixels(back), mm.decode_pixels(bytes(rows[1].transcoded))
    )


def test_progressive_jpeg_decodes_identically_to_baseline():
    """Progressive (SOF2) entropy coding is a lossless re-arrangement of
    the same quantized coefficients, so progressive decode must equal
    baseline decode EXACTLY for the same image — across flat fields
    (massive EOB runs), dense noise (all four scan types), sparse
    low-amplitude noise (ZRL + newly-significant refinement paths), and
    non-MCU-aligned sizes."""
    import numpy as np

    from data_pipelines_cu_spark.operators import multimodal as mm

    rng = np.random.default_rng(11)
    images = [
        np.full((16, 16, 3), 130, dtype=np.uint8),
        rng.integers(0, 256, size=(24, 17, 3)).astype(np.uint8),
        (np.full((9, 30, 3), 128) + rng.integers(-3, 4, size=(9, 30, 3)))
        .clip(0, 255)
        .astype(np.uint8),
        (
            np.linspace(0, 255, 40 * 33 * 3).reshape(40, 33, 3)
            + rng.integers(-2, 3, size=(40, 33, 3))
        )
        .clip(0, 255)
        .astype(np.uint8),
    ]
    for img in images:
        prog = enc.encode_jpeg_progressive(img)
        base = mm.encode_jpeg_baseline(img)
        got = mm.decode_pixels(prog)
        want = mm.decode_pixels(base)
        assert got.shape == want.shape == img.shape
        assert np.array_equal(got, want), (
            f"shape {img.shape}: max diff "
            f"{np.abs(got.astype(int) - want.astype(int)).max()}"
        )


def test_sample_frames_null_payload_yields_no_frames(spark):
    """A NULL payload next to a real MJPEG AVI: the AVI fans out as usual
    and the NULL row yields no frame rows instead of failing the count
    stage."""
    import numpy as np

    avi = enc.encode_avi_mjpeg(
        [np.full((8, 8, 3), 60 * i, np.uint8) for i in range(3)]
    )
    df = spark.createDataFrame(
        [(1, None), (2, avi)], "media_id long, payload binary"
    )
    rows = multimodal.sample_frames_mjpeg(df, every_n=1, out_w=4, out_h=4)
    got = sorted((r.media_id, r.frame_idx, len(r.frame)) for r in rows.collect())
    assert got == [(2, 0, 16), (2, 1, 16), (2, 2, 16)]
