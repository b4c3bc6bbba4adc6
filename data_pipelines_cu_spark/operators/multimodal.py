"""Multimodal column plumbing (north-star set; SURVEY.md §1.2 binary type).

Reference grounding: the course downloads rocket-launch images as binary
files (Solutions/chapter02/dags/download_rocket_launches.py:26-44). Here
image/audio/video payloads are opaque ``binary`` columns with a typed
metadata struct, processed by Arrow-batched ``mapInPandas`` stages.

Every kernel decodes real media in pure stdlib/numpy (no PIL/libvips/
ffmpeg): PPM, BMP, PNG (8/16-bit, sequential or Adam7), baseline and
progressive JPEG, GIF and lossless WebP pixels; PCM-16 RIFF/WAV samples;
and MJPEG-in-AVI video (container walk + the JPEG kernel: first-frame
decode, per-frame split, real frame sampling). Actual pixels and audio
samples flow through the Arrow stages end-to-end. Lossy WebP and
inter-frame video codecs (H.264/VP9/AV1) need a codec library: the
kernels raise ``ValueError`` on blobs they can't parse, marking exactly
where a PIL/ffmpeg kernel widens support.

Scale notes: blobs ride in parquet binary columns; ``mapInPandas`` streams
Arrow record batches so executor memory holds one batch of blobs, not a
partition of decoded tensors; ``spark.sql.execution.arrow.maxRecordsPerBatch``
bounds batch size for fat rows.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType(), True),
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("n_bytes", T.LongType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("sha256", T.StringType(), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


def attach_media_meta(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Typed metadata struct from the blob itself (JVM-side: no decode)."""
    p = F.col(payload_col)
    return df.withColumn(
        "meta",
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.length(p).cast("long").alias("n_bytes"),
        ),
    )


def encode_ppm(pixels) -> bytes:
    """Encode an (H, W, 3) uint8 RGB array as binary P6 PPM."""
    import numpy as np

    arr = np.ascontiguousarray(np.asarray(pixels, dtype=np.uint8))
    h, w = arr.shape[0], arr.shape[1]
    return b"P6\n%d %d\n255\n" % (w, h) + arr.tobytes()


def encode_bmp(pixels) -> bytes:
    """Encode an (H, W, 3) uint8 RGB array as a 24-bit uncompressed
    (BI_RGB) bottom-up BMP — the fixture-side twin of decode_pixels."""
    import struct

    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    h, w = arr.shape[0], arr.shape[1]
    row_len = (w * 3 + 3) & ~3  # rows pad to 4-byte boundaries
    body = bytearray()
    pad = b"\x00" * (row_len - w * 3)
    for y in range(h - 1, -1, -1):  # bottom-up row order
        body += arr[y, :, ::-1].tobytes() + pad  # RGB -> BGR
    pix_offset = 14 + 40
    file_hdr = struct.pack("<2sIHHI", b"BM", pix_offset + len(body), 0, 0, pix_offset)
    dib_hdr = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    return file_hdr + dib_hdr + bytes(body)


def decode_pixels(payload: bytes):
    """Decode a P6 PPM, 24-bit uncompressed BMP, PNG (1/2/4/8/16-bit,
    RGB/RGBA/greyscale/palette, sequential or Adam7-interlaced, stdlib
    zlib inflate + scanline unfilter), JPEG (baseline AND progressive
    DCT, restart markers, fill bytes), GIF (LZW, interlace, local
    color tables, transparency, first frame), MJPEG AVI (RIFF
    container walk + the JPEG kernel, first frame), or lossless WebP
    (VP8L: prefix codes, color cache, LZ77, all four transforms) blob
    to an (H, W, 3) uint8 RGB numpy array — no codec library. Raises
    ValueError on anything else (the plug point where PIL/libvips/
    ffmpeg widens format support: lossy VP8 WebP and inter-frame video
    codecs)."""
    import struct

    import numpy as np

    if not payload:
        raise ValueError("empty payload")
    if payload[:2] == b"P6":
        # header = magic, width, height, maxval, single whitespace, raster
        parts, idx = [], 2
        while len(parts) < 3:
            while idx < len(payload) and payload[idx : idx + 1].isspace():
                idx += 1
            if payload[idx : idx + 1] == b"#":  # comment to EOL
                idx = payload.index(b"\n", idx) + 1
                continue
            start = idx
            while idx < len(payload) and not payload[idx : idx + 1].isspace():
                idx += 1
            parts.append(int(payload[start:idx]))
        idx += 1  # exactly one whitespace byte before the raster
        w, h, maxval = parts
        if maxval != 255:
            raise ValueError(f"unsupported PPM maxval {maxval}")
        raster = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=idx)
        return raster.reshape(h, w, 3).copy()
    if payload[:2] == b"BM":
        pix_offset = struct.unpack_from("<I", payload, 10)[0]
        (hdr_size, w, h, _planes, bpp, compression) = struct.unpack_from(
            "<IiiHHI", payload, 14
        )
        if bpp != 24 or compression != 0:
            raise ValueError(
                f"only 24-bit BI_RGB BMP supported (bpp={bpp}, comp={compression})"
            )
        flip = h > 0  # positive height = bottom-up row order
        h = abs(h)
        row_len = (w * 3 + 3) & ~3
        rows = np.frombuffer(
            payload, dtype=np.uint8, count=row_len * h, offset=pix_offset
        ).reshape(h, row_len)
        bgr = rows[:, : w * 3].reshape(h, w, 3)
        rgb = bgr[:, :, ::-1]
        return (rgb[::-1] if flip else rgb).copy()
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return _decode_png(payload)
    if payload[:2] == b"\xff\xd8":
        return _decode_jpeg(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        try:
            return _decode_gif(payload)
        except (IndexError, struct.error) as exc:
            # truncated block chains index past the buffer — surface the
            # documented ValueError, not a bare IndexError
            raise ValueError(f"corrupt GIF stream: {exc}") from exc
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        return _decode_jpeg(avi_mjpeg_frames(payload)[0])
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        return _decode_webp(payload)
    raise ValueError(f"unrecognized image magic {payload[:2]!r}")


# --- GIF (LZW) ----------------------------------------------------------------
# First-frame render of a GIF87a/89a stream per the public GIF89a
# specification (CompuServe 1990) and the Welch LZW variant it mandates:
# variable-width LSB-first codes with clear/end codes and early width
# change, global/local color tables, 4-pass interlace, sub-screen frames
# composed on the background color, transparent pixels showing the
# background through. Own encoder (real growing-dictionary LZW,
# clear-code reset at 4096) so the codec is property-testable without
# any library, like the PNG/JPEG surface.

_GIF_MAX_CODE = 4096


def _gif_interlace_order(h: int) -> list:
    """Row order of the 4 interlace passes (8/8, 8/4 offset 4, 4/2 offset
    2, 2/1 offset 1)."""
    order = []
    for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
        order.extend(range(start, h, step))
    return order


def _gif_lzw_decode(data: bytes, min_code: int, n_pixels: int) -> bytearray:
    """GIF-flavor LZW: codes are LSB-first, width starts min_code+1 and
    bumps when the dictionary reaches 2^width (early change), CLEAR
    resets, dictionary caps at 4096 codes."""
    clear = 1 << min_code
    end = clear + 1
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    dict_ = list(base)
    width = min_code + 1
    out = bytearray()
    prev: bytes | None = None
    bitpos = 0
    total = len(data) * 8
    while len(out) < n_pixels and bitpos + width <= total:
        byte_i = bitpos >> 3
        code = (
            int.from_bytes(data[byte_i : byte_i + 4], "little")
            >> (bitpos & 7)
        ) & ((1 << width) - 1)
        bitpos += width
        if code == clear:
            dict_ = list(base)
            width = min_code + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            entry = dict_[code]
        elif code < len(dict_):
            entry = dict_[code]
            if len(dict_) < _GIF_MAX_CODE:
                dict_.append(prev + entry[:1])
        elif code == len(dict_):
            entry = prev + prev[:1]
            if len(dict_) < _GIF_MAX_CODE:
                dict_.append(entry)
        else:
            raise ValueError(f"corrupt GIF LZW stream (code {code})")
        out.extend(entry)
        prev = entry
        if len(dict_) == (1 << width) and width < 12:
            width += 1
    if len(out) < n_pixels:
        raise ValueError("GIF LZW stream ended early")
    return out[:n_pixels]


def _decode_gif(payload: bytes):
    """First frame of a GIF to (H, W, 3) uint8 RGB: the frame rectangle
    composes onto a background-color canvas; transparent pixels (GCE
    flag) show the background through."""
    import struct

    import numpy as np

    sw, sh = struct.unpack_from("<HH", payload, 6)
    packed = payload[10]
    bg_idx = payload[11]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(payload, np.uint8, n * 3, pos).reshape(n, 3)
        pos += n * 3
    transparent = -1
    while pos < len(payload):
        block = payload[pos]
        if block == 0x3B:  # trailer before any image
            break
        if block == 0x21:  # extension
            label = payload[pos + 1]
            pos += 2
            if label == 0xF9 and payload[pos] == 4:
                gce_packed = payload[pos + 1]
                if gce_packed & 0x01:
                    transparent = payload[pos + 4]
            while payload[pos] != 0:  # skip sub-blocks
                pos += payload[pos] + 1
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{block:02x}")
        left, top, fw, fh = struct.unpack_from("<HHHH", payload, pos + 1)
        if fw == 0 or fh == 0:
            # a zero-area image descriptor carries no raster — reject as
            # nonconforming rather than decode an empty frame
            raise ValueError(f"GIF image descriptor has zero size ({fw}x{fh})")
        ipacked = payload[pos + 9]
        pos += 10
        pal = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            pal = np.frombuffer(payload, np.uint8, n * 3, pos).reshape(n, 3)
            pos += n * 3
        if pal is None:
            raise ValueError("GIF frame has no color table")
        min_code = payload[pos]
        pos += 1
        chunks = []
        while payload[pos] != 0:
            ln = payload[pos]
            chunks.append(payload[pos + 1 : pos + 1 + ln])
            pos += ln + 1
        idx = np.frombuffer(
            bytes(_gif_lzw_decode(b"".join(chunks), min_code, fw * fh)),
            np.uint8,
        ).reshape(fh, fw)
        if ipacked & 0x40:  # interlaced: decoded rows are in pass order
            out_rows = np.empty_like(idx)
            out_rows[_gif_interlace_order(fh)] = idx
            idx = out_rows
        # the background color index is into the GLOBAL color table by
        # spec — never the frame's local table
        bg = (
            gct[bg_idx]
            if gct is not None and bg_idx < len(gct)
            else np.zeros(3, np.uint8)
        )
        canvas = np.tile(bg.astype(np.uint8), (sh, sw, 1))
        # a RENDERED pixel index past the color table is a corrupt /
        # nonconforming stream — reject, never decode silently-wrong
        # pixels. Transparent indices are exempt: their palette entry is
        # never read (the background shows through), and real encoders
        # legitimately park the transparent index outside a trimmed table.
        opaque = idx if transparent < 0 else idx[idx != transparent]
        if opaque.size and int(opaque.max()) >= len(pal):
            raise ValueError(
                f"GIF pixel index {int(opaque.max())} out of range for"
                f" {len(pal)}-entry color table"
            )
        # the clamp only ever touches transparent slots (validated above),
        # whose colors are overwritten by the background composite below
        frame = pal[np.minimum(idx, len(pal) - 1)]
        if transparent >= 0:
            keep = (idx != transparent)[:, :, None]
            frame = np.where(keep, frame, canvas[top : top + fh, left : left + fw])
        canvas[top : top + fh, left : left + fw] = frame
        return canvas.astype(np.uint8)
    raise ValueError("GIF stream contains no image block")


def _gif_lzw_encode(indices: bytes, min_code: int) -> bytes:
    """Growing-dictionary GIF LZW encoder, exact mirror of the decoder's
    early width change; emits CLEAR + resets when the table hits 4096."""
    clear = 1 << min_code
    end = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    def fresh():
        return {bytes([i]): i for i in range(clear)}

    width = min_code + 1
    dict_ = fresh()
    next_code = end + 1
    emit(clear, width)
    w = b""
    for k in bytes(indices):
        wk = w + bytes([k])
        if wk in dict_:
            w = wk
            continue
        emit(dict_[w], width)
        dict_[wk] = next_code
        next_code += 1
        if next_code - 1 == (1 << width) and width < 12:
            width += 1
        if next_code == _GIF_MAX_CODE:
            emit(clear, width)
            dict_ = fresh()
            next_code = end + 1
            width = min_code + 1
        w = bytes([k])
    if w:
        emit(dict_[w], width)
    emit(end, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def encode_gif(arr, interlace: bool = False) -> bytes:
    """GIF89a encoder for an (H, W, 3) uint8 array with <= 256 distinct
    colors (raises ValueError beyond — GIF is palette-bound by format):
    exact palette, real LZW, optional 4-pass interlace, 255-byte
    sub-block framing."""
    import struct

    import numpy as np

    px = np.asarray(arr, dtype=np.uint8)
    h, w = px.shape[:2]
    colors, inv = np.unique(px.reshape(-1, 3), axis=0, return_inverse=True)
    if len(colors) > 256:
        raise ValueError(f"GIF needs <= 256 colors, image has {len(colors)}")
    pal_bits = max(1, int(np.ceil(np.log2(max(len(colors), 2)))))
    table = np.zeros((1 << pal_bits, 3), np.uint8)
    table[: len(colors)] = colors
    min_code = max(2, pal_bits)
    idx = inv.astype(np.uint8).reshape(h, w)
    if interlace:
        idx = idx[_gif_interlace_order(h)]
    data = _gif_lzw_encode(idx.tobytes(), min_code)
    out = bytearray(b"GIF89a")
    out += struct.pack(
        "<HHBBB", w, h, 0x80 | (0x07 << 4) | (pal_bits - 1), 0, 0
    )
    out += table.tobytes()
    out += struct.pack(
        "<BHHHHB", 0x2C, 0, 0, w, h, 0x40 if interlace else 0
    )
    out.append(min_code)
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)


def _png_chunks(payload: bytes):
    """Iterate (type, data) chunks of a PNG stream (CRCs not verified —
    corrupt data surfaces as a zlib/shape error, the same failure class)."""
    import struct

    idx = 8
    while idx + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, idx)
        ctype = payload[idx + 4 : idx + 8]
        data = payload[idx + 8 : idx + 8 + length]
        yield ctype, data
        idx += 12 + length  # length + type + data + CRC
        if ctype == b"IEND":
            break


# Adam7 pass origins and steps: (x_start, y_start, x_step, y_step)
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_unfilter(raw: bytes, offset: int, h: int, stride: int, bpp: int):
    """Reverse PNG scanline filtering for ``h`` rows of ``stride`` bytes
    starting at ``offset`` (each row prefixed by its filter byte);
    returns (rows array (h, stride) uint8, next offset). Shared by the
    sequential path (one call) and Adam7 (one call per pass — each pass
    is an independently-filtered sub-image)."""
    import numpy as np

    if offset + h * (stride + 1) > len(raw):
        raise ValueError("PNG scanline data truncated")
    img = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        base = offset + y * (stride + 1)
        ftype = raw[base]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=base + 1
        ).astype(np.int32)
        if ftype == 0:  # None
            cur = line
        elif ftype == 2:  # Up
            cur = (line + prev) & 0xFF
        else:
            cur = np.zeros(stride, dtype=np.int32)
            for i in range(stride):
                a = cur[i - bpp] if i >= bpp else 0  # left
                b = prev[i]  # up
                if ftype == 1:  # Sub
                    pred = a
                elif ftype == 3:  # Average
                    pred = (a + b) >> 1
                elif ftype == 4:  # Paeth
                    c = prev[i - bpp] if i >= bpp else 0  # up-left
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                else:
                    raise ValueError(f"bad PNG filter type {ftype}")
                cur[i] = (line[i] + pred) & 0xFF
        img[y] = cur.astype(np.uint8)
        prev = cur
    return img, offset + h * (stride + 1)


def _decode_png(payload: bytes):
    """Pure-stdlib PNG decode (zlib inflate + per-scanline unfilter) for
    every spec-valid depth/color combination, sequential or
    Adam7-interlaced — including the formats the reference's actual image payloads
    use (rocket launch images,
    Solutions/chapter02/dags/download_rocket_launches.py:34-41). Returns
    (H, W, 3) uint8 RGB; alpha is dropped, greyscale replicates, palette
    indices look up PLTE, 16-bit samples reduce to their high byte,
    sub-byte greyscale/palette depths unpack big-bit-first (greyscale
    expands to full range). Every depth/color combination the spec
    allows decodes; invalid combinations raise ValueError."""
    import struct
    import zlib

    import numpy as np

    ihdr = None
    idat = bytearray()
    plte = None
    for ctype, data in _png_chunks(payload):
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"PLTE":
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, bit_depth, color_type, _comp, _filt, interlace = ihdr
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color_type)
    if interlace not in (0, 1):
        raise ValueError(f"bad PNG interlace method {interlace}")
    if channels is None:
        raise ValueError(f"unknown PNG color type {color_type}")
    valid_depths = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
                    4: (8, 16), 6: (8, 16)}[color_type]
    if bit_depth not in valid_depths:
        raise ValueError(
            f"invalid PNG depth {bit_depth} for color type {color_type}"
        )
    if color_type == 3 and plte is None:
        raise ValueError("palette PNG missing PLTE chunk")
    raw = zlib.decompress(bytes(idat))
    # PNG filters operate on BYTES at any depth; bpp is the byte distance
    # to the corresponding byte of the pixel to the left (1 for packed
    # sub-byte depths, T.81-style)
    bpp = max(1, channels * bit_depth // 8)

    def to_samples(rows, width):
        """(ph, stride_bytes) filtered-row bytes -> (ph, width*channels)
        uint8 samples: split 16-bit big-endian pairs to their high byte,
        unpack sub-byte depths big-bit-first."""
        ph = rows.shape[0]
        if bit_depth == 8:
            return rows
        if bit_depth == 16:
            return rows.reshape(ph, width * channels, 2)[:, :, 0]
        bits = np.unpackbits(rows, axis=1)[:, : width * bit_depth]
        weights = 1 << np.arange(bit_depth - 1, -1, -1)
        return (
            (bits.reshape(ph, width, bit_depth) * weights)
            .sum(axis=2)
            .astype(np.uint8)
        )

    def stride_bytes(width):
        return (width * channels * bit_depth + 7) // 8

    if interlace == 0:
        if len(raw) != h * (stride_bytes(w) + 1):
            raise ValueError("PNG scanline data truncated")
        img = to_samples(_png_unfilter(raw, 0, h, stride_bytes(w), bpp)[0], w)
    else:
        # Adam7: seven independently-filtered sub-images scattered onto
        # the output grid at (x0, y0) with steps (dx, dy); each pass
        # packs its own scanlines, so unpack per pass before scattering
        img = np.zeros((h, w * channels), dtype=np.uint8)
        offset = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            sub, offset = _png_unfilter(raw, offset, ph, stride_bytes(pw), bpp)
            sub = to_samples(sub, pw).reshape(ph, pw, channels)
            img3 = img.reshape(h, w, channels)
            img3[y0::dy, x0::dx, :] = sub
        if offset != len(raw):
            raise ValueError("PNG scanline data truncated")
    px = img.reshape(h, w, channels)
    if color_type == 2:
        return px.copy()
    if color_type == 3:
        idxs = px[:, :, 0]
        if int(idxs.max(initial=0)) >= len(plte):
            raise ValueError("palette PNG index out of PLTE range")
        return plte[idxs]
    if color_type == 6:
        return px[:, :, :3].copy()
    grey = px[:, :, 0]
    if bit_depth < 8:
        # expand 0..2^d-1 to full range: 255 // (2^d - 1) is exact
        grey = (
            grey.astype(np.uint16) * (255 // ((1 << bit_depth) - 1))
        ).astype(np.uint8)
    return np.repeat(grey[:, :, None], 3, axis=2).copy()


def encode_png(arr) -> bytes:
    """Minimal PNG encoder (8-bit RGB, filter 0, one IDAT) — the write
    side of the decode kernel, pure stdlib zlib."""
    import struct
    import zlib

    import numpy as np

    px = np.asarray(arr, dtype=np.uint8)
    h, w = px.shape[0], px.shape[1]

    def chunk(ctype: bytes, data: bytes) -> bytes:
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + px[y].tobytes() for y in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


# --- Baseline JPEG codec (pure numpy/stdlib) ----------------------------------
# The reference's actual image payloads are JPEG (rocket launch images,
# Solutions/chapter02/dags/download_rocket_launches.py:34-41); the container
# has no PIL/libjpeg, so the kernel implements the baseline-sequential JPEG
# process from the public ITU-T T.81 spec: canonical Huffman entropy coding
# with the Annex K typical tables, 8x8 DCT via an exact float matrix product,
# JFIF YCbCr color. Decode supports 1- or 3-component baseline scans with any
# H/V chroma subsampling (4:4:4, 4:2:2, 4:2:0) and restart intervals; the
# encoder emits 4:4:4 (its purpose is round-trip fixtures and the media sink).

_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

_QT_LUMA = [
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
]
_QT_CHROMA = [
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
]

# (bits-per-length[1..16], symbols) — T.81 Annex K typical Huffman tables
_HT_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_HT_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_HT_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_HT_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)


def _canonical_codes(bits, symbols):
    """(symbol -> (code, length)) canonical Huffman assignment (T.81 C.2)."""
    out = {}
    code = 0
    i = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[symbols[i]] = (code, length)
            code += 1
            i += 1
        code <<= 1
    return out


def _decode_map(bits, symbols):
    """((length, code) -> symbol) for bit-at-a-time Huffman decode."""
    return {(ln, code): sym for sym, (code, ln) in _canonical_codes(bits, symbols).items()}


def _dct_mat():
    import numpy as np

    x = np.arange(8, dtype=np.float64)
    m = 0.5 * np.cos((2.0 * x[None, :] + 1.0) * x[:, None] * np.pi / 16.0)
    m[0, :] /= np.sqrt(2.0)
    return m  # forward: M @ block @ M.T ; inverse: M.T @ coeff @ M


class _JpegBitReader:
    """Bit reader over entropy-coded data: un-stuffs 0xFF00, stops at any
    non-RST marker, and surfaces RSTn markers for the MCU loop."""

    def __init__(self, data: bytes, pos: int):
        self.d = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _feed(self) -> bool:
        if self.pos >= len(self.d):
            return False
        b = self.d[self.pos]
        if b == 0xFF:
            nxt = self.d[self.pos + 1] if self.pos + 1 < len(self.d) else 0xD9
            if nxt == 0x00:
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7 or nxt == 0xD9:
                return False  # restart/EOI marker: consumed by the MCU loop
            else:
                return False
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8
        return True

    def read_bit(self) -> int:
        if self.nbits == 0 and not self._feed():
            raise ValueError("JPEG entropy stream truncated")
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def consume_restart(self) -> None:
        self.acc = 0
        self.nbits = 0
        if (
            self.pos + 1 < len(self.d)
            and self.d[self.pos] == 0xFF
            and 0xD0 <= self.d[self.pos + 1] <= 0xD7
        ):
            self.pos += 2
        else:
            raise ValueError("expected JPEG restart marker")


def _huff_decode(reader: _JpegBitReader, table: dict) -> int:
    code, ln = 0, 0
    while ln < 16:
        code = (code << 1) | reader.read_bit()
        ln += 1
        sym = table.get((ln, code))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG Huffman code")


def _extend(v: int, ssss: int) -> int:
    if ssss == 0:
        return 0
    return v if v >= (1 << (ssss - 1)) else v - (1 << ssss) + 1


def _decode_jpeg(payload: bytes):
    """Baseline-sequential JPEG decode (ITU-T T.81): marker parse, canonical
    Huffman, dequantize, exact float iDCT, chroma upsample, JFIF YCbCr->RGB.
    Returns (H, W, 3) uint8. Progressive/arithmetic/12-bit scans raise
    ValueError (declared boundary)."""
    import struct

    import numpy as np

    qt: dict[int, "np.ndarray"] = {}
    huff: dict[tuple[int, int], dict] = {}
    sof = None
    restart_interval = 0
    progressive = False
    coef = None
    pred = None
    pos = 2
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("bad JPEG marker stream")
        # T.81 B.1.1.2: any marker may be preceded by optional 0xFF fill
        # bytes — real camera/tool output uses them for alignment. Skip
        # the run so the length parse below reads the true segment.
        while payload[pos + 1] == 0xFF and pos + 4 <= len(payload):
            pos += 1
        marker = payload[pos + 1]
        if marker == 0x01 or 0xD0 <= marker <= 0xD9:
            # standalone markers (TEM, RSTn, SOI, EOI) carry no length
            pos += 2
            continue
        (seg_len,) = struct.unpack_from(">H", payload, pos + 2)
        data = payload[pos + 4 : pos + 2 + seg_len]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(data):
                pq, tq = data[i] >> 4, data[i] & 0xF
                if pq != 0:
                    raise ValueError("only 8-bit JPEG quant tables supported")
                tbl = np.zeros(64, dtype=np.float64)
                for k in range(64):
                    tbl[_ZIGZAG[k]] = data[i + 1 + k]
                qt[tq] = tbl.reshape(8, 8)
                i += 65
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(data):
                tc, th = data[i] >> 4, data[i] & 0xF
                bits = list(data[i + 1 : i + 17])
                n = sum(bits)
                syms = list(data[i + 17 : i + 17 + n])
                huff[(tc, th)] = _decode_map(bits, syms)
                i += 17 + n
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            prec, height, width, nf = struct.unpack_from(">BHHB", data, 0)
            if prec != 8:
                raise ValueError("only 8-bit JPEG supported")
            comps = []
            for c in range(nf):
                cid, hv, tq = struct.unpack_from(">BBB", data, 6 + 3 * c)
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq})
            sof = (height, width, comps)
            progressive = marker == 0xC2
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise ValueError(
                f"only baseline (SOF0) / progressive (SOF2) JPEG supported,"
                f" got SOF marker {marker:#x}"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", data, 0)
        elif marker == 0xDA:  # SOS — entropy data follows
            if sof is None:
                raise ValueError("JPEG SOS before SOF")
            ns = data[0]
            scan = []
            for c in range(ns):
                cs, tdta = struct.unpack_from(">BB", data, 1 + 2 * c)
                scan.append((cs, tdta >> 4, tdta & 0xF))
            if not progressive:
                return _decode_jpeg_scan(
                    payload,
                    pos + 2 + seg_len,
                    sof,
                    scan,
                    qt,
                    huff,
                    restart_interval,
                )
            ss = data[1 + 2 * ns]
            se = data[2 + 2 * ns]
            ahal = data[3 + 2 * ns]
            if coef is None:
                _, _, _, _, geo = _prog_geometry(sof)
                coef = {
                    c["id"]: np.zeros(
                        (geo[c["id"]]["bh"], geo[c["id"]]["bw"], 64),
                        dtype=np.int32,
                    )
                    for c in sof[2]
                }
                pred = {c["id"]: 0 for c in sof[2]}
            pos = _decode_progressive_scan(
                payload, pos + 2 + seg_len, coef, pred, sof, scan, huff,
                ss, se, ahal >> 4, ahal & 0xF, restart_interval,
            )
            continue
        pos += 2 + seg_len
    if coef is not None:
        return _finish_progressive(coef, sof, qt)
    raise ValueError("JPEG missing SOS scan")


def _decode_jpeg_scan(payload, start, sof, scan, qt, huff, restart_interval):
    import numpy as np

    height, width, comps = sof
    by_id = {c["id"]: c for c in comps}
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))
    m = _dct_mat()
    planes = {}
    for c in comps:
        planes[c["id"]] = np.zeros(
            (mcuy * c["v"] * 8, mcux * c["h"] * 8), dtype=np.float64
        )
    reader = _JpegBitReader(payload, start)
    pred = {c["id"]: 0 for c in comps}
    n_mcu = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and n_mcu and n_mcu % restart_interval == 0:
                reader.consume_restart()
                pred = {c["id"]: 0 for c in comps}
            for cid, td, ta in scan:
                comp = by_id[cid]
                q = qt[comp["tq"]]
                dc_tbl, ac_tbl = huff[(0, td)], huff[(1, ta)]
                for by in range(comp["v"]):
                    for bx in range(comp["h"]):
                        zz = np.zeros(64, dtype=np.float64)
                        ssss = _huff_decode(reader, dc_tbl)
                        diff = _extend(reader.read_bits(ssss), ssss)
                        pred[cid] += diff
                        zz[0] = pred[cid]
                        k = 1
                        while k < 64:
                            rs = _huff_decode(reader, ac_tbl)
                            r, s = rs >> 4, rs & 0xF
                            if s == 0:
                                if r == 15:
                                    k += 16  # ZRL
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("JPEG AC run overflow")
                            zz[_ZIGZAG[k]] = _extend(reader.read_bits(s), s)
                            k += 1
                        block = m.T @ (zz.reshape(8, 8) * q) @ m + 128.0
                        y0 = (my * comp["v"] + by) * 8
                        x0 = (mx * comp["h"] + bx) * 8
                        planes[cid][y0 : y0 + 8, x0 : x0 + 8] = block
            n_mcu += 1
    return _jpeg_output(planes, sof, hmax, vmax)


class _JpegBitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-fill to byte boundary


def encode_jpeg_baseline(
    arr, subsampling: str = "444", restart_interval: int = 0
) -> bytes:
    """Baseline JFIF JPEG encoder (Annex K quant + Huffman tables): the
    write side of the JPEG kernel, used for round-trip fixtures and the
    media sink. Pure numpy DCT + canonical Huffman. ``subsampling`` is
    '444' (no chroma subsampling) or '420' (2x2-averaged chroma, the
    common camera/web default); ``restart_interval`` > 0 emits DRI + RSTn
    markers every that many MCUs (exercises the decoder's restart path)."""
    import struct

    import numpy as np

    if subsampling not in ("444", "420"):
        raise ValueError(f"unsupported subsampling {subsampling!r}")
    sub = 2 if subsampling == "420" else 1
    px = np.asarray(arr, dtype=np.float64)
    h, w = px.shape[0], px.shape[1]
    r, g, b = px[:, :, 0], px[:, :, 1], px[:, :, 2]
    planes = [
        0.299 * r + 0.587 * g + 0.114 * b,
        -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
        0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
    ]
    # _QT_* literals are in natural (row-major) order; the DQT segment
    # stores zigzag order, so emission permutes through _ZIGZAG below.
    qmats = [
        np.array(_QT_LUMA, dtype=np.float64).reshape(8, 8),
        np.array(_QT_CHROMA, dtype=np.float64).reshape(8, 8),
    ]
    enc = [
        (_canonical_codes(*_HT_DC_LUMA), _canonical_codes(*_HT_AC_LUMA)),
        (_canonical_codes(*_HT_DC_CHROMA), _canonical_codes(*_HT_AC_CHROMA)),
    ]
    m = _dct_mat()
    # component geometry: Y at (sub, sub) sampling, chroma at (1, 1)
    samp = [(sub, sub), (1, 1), (1, 1)]
    mcu_px = 8 * sub
    mcux, mcuy = -(-w // mcu_px), -(-h // mcu_px)

    def pad_plane(p, blocks_x, blocks_y):
        ph, pw_ = blocks_y * 8, blocks_x * 8
        full = np.empty((ph, pw_))
        ch, cw = p.shape
        full[:ch, :cw] = p
        if cw < pw_:
            full[:ch, cw:] = p[:, -1:]
        if ch < ph:
            full[ch:, :] = full[ch - 1 : ch, :]
        return full - 128.0

    comp_planes = []
    for ci, p in enumerate(planes):
        if ci > 0 and sub == 2:
            # 2x2 box-average downsample (pad odd edges by replication)
            ph2, pw2 = -(-h // 2) * 2, -(-w // 2) * 2
            tmp = np.empty((ph2, pw2))
            tmp[:h, :w] = p
            if w < pw2:
                tmp[:h, w:] = p[:, -1:]
            if h < ph2:
                tmp[h:, :] = tmp[h - 1 : h, :]
            p = (
                tmp[0::2, 0::2] + tmp[0::2, 1::2] + tmp[1::2, 0::2] + tmp[1::2, 1::2]
            ) / 4.0
        hs, vs = samp[ci]
        comp_planes.append(pad_plane(p, mcux * hs, mcuy * vs))

    writer = _JpegBitWriter()
    pred = [0, 0, 0]

    def put_mag(v: int) -> tuple[int, int, int]:
        ssss = int(v != 0) and int(abs(v)).bit_length()
        extra = v if v >= 0 else v + (1 << ssss) - 1
        return ssss, extra, ssss

    def emit_block(ci: int, y0: int, x0: int) -> None:
        ti = 0 if ci == 0 else 1
        dc_codes, ac_codes = enc[ti]
        block = comp_planes[ci][y0 : y0 + 8, x0 : x0 + 8]
        coeff = m @ block @ m.T
        quant = np.round(coeff / qmats[ti]).astype(np.int64)
        zz = np.array([quant.flat[z] for z in _ZIGZAG])
        diff = int(zz[0]) - pred[ci]
        pred[ci] = int(zz[0])
        ssss, extra, n = put_mag(diff)
        code, ln = dc_codes[ssss]
        writer.write(code, ln)
        if n:
            writer.write(extra, n)
        run = 0
        for k in range(1, 64):
            v = int(zz[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = ac_codes[0xF0]
                writer.write(code, ln)
                run -= 16
            ssss, extra, n = put_mag(v)
            code, ln = ac_codes[(run << 4) | ssss]
            writer.write(code, ln)
            writer.write(extra, n)
            run = 0
        if run:
            code, ln = ac_codes[0x00]
            writer.write(code, ln)

    n_mcu = 0
    rst = 0
    for by in range(mcuy):
        for bx in range(mcux):
            if restart_interval and n_mcu and n_mcu % restart_interval == 0:
                writer.flush()
                writer.out += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) % 8
                pred[:] = [0, 0, 0]
            for ci in range(3):
                hs, vs = samp[ci]
                for yy in range(vs):
                    for xx in range(hs):
                        emit_block(ci, (by * vs + yy) * 8, (bx * hs + xx) * 8)
            n_mcu += 1
    writer.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    dqt = b"".join(
        bytes([tq]) + bytes(int(qmats[tq].flat[_ZIGZAG[k]]) for k in range(64))
        for tq in (0, 1)
    )
    hv_y = (samp[0][0] << 4) | samp[0][1]
    sof = struct.pack(">BHHB", 8, h, w, 3) + b"".join(
        struct.pack(">BBB", cid, hv, tq)
        for cid, hv, tq in [(1, hv_y, 0), (2, 0x11, 1), (3, 0x11, 1)]
    )
    dht = b"".join(
        bytes([(tc << 4) | th]) + bytes(bits) + bytes(syms)
        for (tc, th), (bits, syms) in [
            ((0, 0), _HT_DC_LUMA),
            ((1, 0), _HT_AC_LUMA),
            ((0, 1), _HT_DC_CHROMA),
            ((1, 1), _HT_AC_CHROMA),
        ]
    )
    sos = struct.pack(">B", 3) + b"".join(
        struct.pack(">BB", cid, tt) for cid, tt in [(1, 0x00), (2, 0x11), (3, 0x11)]
    ) + b"\x00\x3f\x00"
    app0 = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    dri = seg(0xDD, struct.pack(">H", restart_interval)) if restart_interval else b""
    return (
        b"\xff\xd8"
        + seg(0xE0, app0)
        + seg(0xDB, dqt)
        + seg(0xC0, sof)
        + seg(0xC4, dht)
        + dri
        + seg(0xDA, sos)
        + bytes(writer.out)
        + b"\xff\xd9"
    )


def decode_image_real(payload: bytes, dim: int = 8) -> list[float]:
    """Image feature kernel: decode actual pixels (any
    :func:`decode_pixels` format) and emit per-channel statistics scaled
    to [0,1] — mean/std per RGB channel, luminance mean, aspect ratio —
    cycled/truncated to ``dim``."""
    import numpy as np

    px = decode_pixels(payload).astype(np.float64)
    h, w = px.shape[0], px.shape[1]
    lum = px @ np.array([0.299, 0.587, 0.114])
    stats = [
        *(px[:, :, c].mean() / 255.0 for c in range(3)),
        *(px[:, :, c].std() / 255.0 for c in range(3)),
        lum.mean() / 255.0,
        w / (w + h),
    ]
    return [float(stats[i % len(stats)]) for i in range(dim)]


def extract_features(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    dim: int = 8,
) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads via
    mapInPandas: sha256, byte length and the :func:`decode_image_real`
    feature vector per payload. NULL payloads give NULL outputs; a
    payload that does not decode raises ``ValueError``."""
    import pandas as pd  # noqa: PLC0415

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            payloads = pdf[payload_col]
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "sha256": [
                        None if p is None else hashlib.sha256(p).hexdigest()
                        for p in payloads
                    ],
                    "n_bytes": pd.array(
                        [None if p is None else len(p) for p in payloads],
                        dtype="Int64",
                    ),
                    "feature": [
                        None if p is None else decode_image_real(p, dim)
                        for p in payloads
                    ],
                }
            )

    return df.select(id_col, payload_col).mapInPandas(run, schema=FEATURE_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame", T.BinaryType(), True),
        T.StructField("out_w", T.IntegerType(), False),
        T.StructField("out_h", T.IntegerType(), False),
    ]
)


def avi_frame_count(payload: bytes) -> int:
    """Frame count of an MJPEG AVI by container walk alone — no JPEG
    decode, so counting is cheap relative to decoding."""
    return len(avi_mjpeg_frames(payload))


def decode_frame_mjpeg(payload: bytes, frame_idx: int, w: int, h: int) -> bytes:
    """Video frame kernel: extract frame ``frame_idx`` from an MJPEG AVI,
    JPEG-decode it, nearest-neighbor resample to (h, w), return the
    BT.601-weighted grayscale uint8 raster (w*h bytes)."""
    import numpy as np

    frames = avi_mjpeg_frames(payload)
    if not 0 <= frame_idx < len(frames):
        raise ValueError(
            f"frame {frame_idx} out of range ({len(frames)} frames)"
        )
    px = _decode_jpeg(frames[frame_idx])
    sh, sw = px.shape[:2]
    ys = np.arange(h) * sh // h
    xs = np.arange(w) * sw // w
    small = px[ys][:, xs].astype(np.uint32)
    gray = (
        small[..., 0] * 299 + small[..., 1] * 587 + small[..., 2] * 114
    ) // 1000
    return gray.astype(np.uint8).tobytes()


def sample_frames_mjpeg(
    df: DataFrame,
    every_n: int = 10,
    out_w: int = 32,
    out_h: int = 32,
    payload_col: str = "payload",
    id_col: str = "media_id",
) -> DataFrame:
    """Video frame sampling end-to-end, every ``every_n``-th frame of each
    MJPEG AVI as an ``out_w`` x ``out_h`` grayscale raster: ONE Arrow pass
    annotates each row with its container's frame count (header walk, no
    pixel decode — the blob rides along, so the input plan executes once
    and nothing joins back), the JVM explodes the index range, and the
    per-frame decode runs on the fanned-out (media, frame) rows. Fan-out
    BEFORE decode is the scale-critical ordering: a 2-hour video's
    frames decode on many tasks instead of serially inside one, and the
    repartition on (media_id, frame_idx) between the two stages spreads
    one viral video across the cluster. A NULL payload has no frames, so
    its row yields no frame rows."""
    import pandas as pd  # noqa: PLC0415

    id_type = df.schema[id_col].dataType  # honor non-long media keys too
    count_schema = T.StructType(
        [
            T.StructField(id_col, id_type, False),
            T.StructField(payload_col, T.BinaryType(), True),
            T.StructField("n_frames", T.IntegerType(), False),
        ]
    )
    out_schema = T.StructType(
        [T.StructField("media_id", id_type, False)]
        + [f for f in FRAME_SCHEMA.fields if f.name != "media_id"]
    )

    def count(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    payload_col: pdf[payload_col],
                    "n_frames": [
                        avi_frame_count(p) for p in pdf[payload_col]
                    ],
                }
            )

    frames = (
        df.select(id_col, payload_col)
        .filter(F.col(payload_col).isNotNull())
        .mapInPandas(count, schema=count_schema)
        .select(
            id_col,
            payload_col,
            F.explode(
                F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n))
            ).alias("frame_idx"),
        )
        .repartition(id_col, "frame_idx")
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "frame_idx": pdf["frame_idx"].astype("int32"),
                    "frame": [
                        decode_frame_mjpeg(p, int(i), out_w, out_h)
                        for p, i in zip(pdf[payload_col], pdf["frame_idx"])
                    ],
                    "out_w": out_w,
                    "out_h": out_h,
                }
            )

    return frames.mapInPandas(run, schema=out_schema)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("resized", T.BinaryType(), True),
        T.StructField("out_w", T.IntegerType(), False),
        T.StructField("out_h", T.IntegerType(), False),
    ]
)


def resize_image_real(payload: bytes, w: int, h: int) -> bytes:
    """Resize kernel: decode pixels (any :func:`decode_pixels` format),
    nearest-neighbor resample to (h, w), re-encode as P6 PPM — pure numpy
    end-to-end, and the output is itself decodable, so resize ->
    extract_features chains on real pixel bytes."""
    import numpy as np

    px = decode_pixels(payload)
    src_h, src_w = px.shape[0], px.shape[1]
    ys = (np.arange(h) * src_h) // h
    xs = (np.arange(w) * src_w) // w
    return encode_ppm(px[ys][:, xs])


def resize_images(
    df: DataFrame,
    out_w: int,
    out_h: int,
    payload_col: str = "payload",
    id_col: str = "media_id",
) -> DataFrame:
    """Arrow-batched image resize over binary payloads — the normalize
    step of an image-pretraining pipeline (reference grounding: the
    downloaded launch images, Solutions/chapter02/dags/
    download_rocket_launches.py:26-44, would be size-normalized before
    training). mapInPandas streams batches so executor memory holds one
    Arrow batch of blobs, never a partition of decoded bitmaps; output
    blobs are again an opaque binary column, so stages compose:
    resize -> extract_features chains without leaving Arrow. Each blob
    goes through :func:`resize_image_real`; NULL payloads give NULL
    blobs, and a payload that does not decode raises ``ValueError``."""
    import pandas as pd  # noqa: PLC0415

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "resized": [
                        None if p is None else resize_image_real(p, out_w, out_h)
                        for p in pdf[payload_col]
                    ],
                    "out_w": out_w,
                    "out_h": out_h,
                }
            )

    return df.select(id_col, payload_col).mapInPandas(run, schema=RESIZED_SCHEMA)


# --- Video container path: MJPEG-in-AVI (pure stdlib + the JPEG kernel) ------
# The declared video plug point narrows to REAL bitstreams: an AVI (RIFF)
# container whose video stream is Motion-JPEG decodes with the repo's own
# baseline/progressive JPEG kernel — first-frame render plus a per-frame
# splitter the frame-sample plan can explode. Inter-frame codecs
# (H.264/VP9/AV1) still need a codec library and raise ValueError at the
# same plug point. Layout per the public RIFF/AVI specification
# (Microsoft/IBM Multimedia Programming Interface, 1991): nested LIST
# chunks 'hdrl' (avih + one 'strl' per stream: strh/strf) and 'movi'
# (frame chunks named ##dc/##db), WORD-aligned chunk sizes.


def _riff_chunks(payload: bytes, pos: int, end: int):
    """Iterate (fourcc, body_start, body_size) over a RIFF chunk run;
    LIST chunks yield their list type as fourcc with the body AFTER the
    type word, so callers recurse naturally."""
    import struct

    while pos + 8 <= end:
        fourcc = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        body = pos + 8
        if body + size > end:
            raise ValueError("truncated RIFF chunk")
        if fourcc in (b"LIST", b"RIFF"):
            yield payload[body : body + 4], body + 4, size - 4
        else:
            yield fourcc, body, size
        pos = body + size + (size & 1)  # chunks are WORD-aligned


def avi_mjpeg_frames(payload: bytes) -> list:
    """Split an MJPEG AVI into its per-frame JPEG blobs (decode-ready for
    decode_pixels / the frame-sample plan). Validates the container: RIFF
    type 'AVI ', a 'vids' stream whose handler/compression is MJPG, and
    every video frame chunk starting with the JPEG SOI marker. Raises
    ValueError on other codecs — the declared plug point.

    Real-world interleaving is handled: frame chunks are matched by the
    MJPEG stream's OWN number (a second stream's ##dc chunks are never
    mixed in), 'rec ' LIST groupings inside movi are recursed into, and
    zero-length ##dc chunks (the standard drop-frame encoding) are
    skipped rather than failing the SOI check."""
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")
    (riff_size,) = struct.unpack_from("<I", payload, 4)
    end = min(len(payload), 8 + riff_size)
    vids_codec = vids_stream = None
    n_streams = 0
    movi_spans: list = []
    for fourcc, body, size in _riff_chunks(payload, 12, end):
        if fourcc == b"hdrl":
            stream_no = -1
            for f2, b2, s2 in _riff_chunks(payload, body, body + size):
                if f2 != b"strl":
                    continue
                stream_no += 1
                stype = shandler = None
                for f3, b3, s3 in _riff_chunks(payload, b2, b2 + s2):
                    if f3 == b"strh" and s3 >= 8:
                        stype = payload[b3 : b3 + 4]
                        shandler = payload[b3 + 4 : b3 + 8]
                    elif f3 == b"strf" and stype == b"vids" and s3 >= 40:
                        # BITMAPINFOHEADER.biCompression at offset 16;
                        # some muxers write BI_RGB (zeros) there and rely
                        # on the strh fccHandler — only a real fourcc
                        # overrides it
                        comp = payload[b3 + 16 : b3 + 20]
                        if comp.strip(b"\x00"):
                            shandler = comp
                if stype == b"vids" and vids_stream is None:
                    vids_codec = shandler
                    vids_stream = stream_no
            n_streams = max(n_streams, stream_no + 1)
        elif fourcc == b"movi":
            movi_spans.append((body, body + size))
    if vids_codec is None or vids_stream is None:
        raise ValueError("AVI has no video stream header")
    if vids_codec.upper() not in (b"MJPG", b"JPEG"):
        raise ValueError(
            f"unsupported AVI video codec {vids_codec!r} (MJPG only)"
        )
    # stream-number prefixes: ffmpeg-style muxers write two DECIMAL
    # digits, Microsoft's avifmt.h (ToHex) writes two HEX digits — the
    # encodings agree for streams 0-9 and diverge from 10 up. Accept the
    # decimal spelling always, and a hex spelling ONLY when no real
    # stream could claim it decimally (video at 16 spells hex '10'; if
    # the file also HAS a stream 10, '10dc' chunks are that stream's and
    # must not be absorbed) — ambiguity resolves toward the decimal
    # convention, never toward silently mixing streams. Streams 100-255
    # have NO two-char decimal spelling (b'%02d' would emit three bytes
    # that can never match a chunk prefix), so their hex spelling is
    # accepted unconditionally; the 2-char prefix hex-caps ids at 0xFF —
    # reject higher rather than silently matching nothing.
    if vids_stream > 0xFF:
        raise ValueError(
            f"unsupported AVI video stream index {vids_stream}"
            " (two-char chunk prefixes cap stream ids at 0xFF)"
        )
    want = {b"%02d" % vids_stream} if vids_stream <= 99 else set()
    for spelling in (b"%02X" % vids_stream, b"%02x" % vids_stream):
        if spelling in want:
            continue
        try:
            as_decimal = int(spelling)
        except ValueError:
            as_decimal = None  # contains a-f: no decimal stream claims it
        if (
            vids_stream > 99  # no decimal spelling exists — hex is IT
            or as_decimal is None
            or as_decimal >= n_streams
        ):
            want.add(spelling)
    frames: list = []

    def walk_movi(pos: int, stop: int) -> None:
        for f2, b2, s2 in _riff_chunks(payload, pos, stop):
            if f2 == b"rec ":  # interleave grouping — frames live inside
                walk_movi(b2, b2 + s2)
            elif f2[:2] in want and f2[2:4] in (b"dc", b"db"):
                if s2 == 0:
                    continue  # drop-frame placeholder
                frames.append(payload[b2 : b2 + s2])

    for lo, hi in movi_spans:
        walk_movi(lo, hi)
    if not frames:
        raise ValueError("AVI movi list contains no video frames")
    for fr in frames:
        if fr[:2] != b"\xff\xd8":
            raise ValueError("MJPEG frame chunk lacks the JPEG SOI marker")
    return frames


# --- Real audio path: RIFF/WAV PCM decode (pure numpy) -----------------------
# The audio twin of the PPM/BMP pixel kernels: uncompressed 16-bit PCM WAV
# decodes with struct + frombuffer, so real samples flow through the Arrow
# stages. Compressed audio (mp3/ogg/aac) still needs a codec library and
# raises ValueError at the same plug point.


def decode_wav(payload: bytes):
    """Decode a PCM 16-bit WAV blob to (sample_rate, (n, channels) int16
    array) — walks RIFF chunks, so extra chunks (LIST/fact) don't break it.
    Raises ValueError on non-RIFF or non-PCM-16 payloads (the codec plug
    point, as with compressed images)."""
    import struct

    import numpy as np

    if not payload or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks pad to even offsets
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, n_ch, sample_rate, _br, _ba, bits = fmt
    if audio_format != 1 or bits != 16:
        raise ValueError(f"only PCM-16 supported (format={audio_format}, bits={bits})")
    arr = np.frombuffer(data, dtype="<i2")
    return sample_rate, arr.reshape(-1, n_ch).copy()


WAV_CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("chunk_idx", T.IntegerType(), False),
        T.StructField("n_samples", T.IntegerType(), False),
        T.StructField("mean_abs", T.DoubleType(), True),
        T.StructField("peak", T.IntegerType(), True),
        T.StructField("zero_crossings", T.IntegerType(), True),
    ]
)


def wav_chunk_features(
    df: DataFrame,
    samples_per_chunk: int = 4000,
    payload_col: str = "payload",
    id_col: str = "media_id",
) -> DataFrame:
    """REAL audio feature extraction: decode PCM samples, window them, emit
    per-chunk integer-derived features (mean |amplitude|, peak, zero
    crossings — all exact integer arithmetic except the one mean division).

    Features are computed on CHANNEL 0 (stereo clips are not downmixed —
    a mixdown policy is a modeling choice the caller makes upstream).
    The Arrow kernel fans each clip out to its chunk rows (mapInPandas may
    emit more rows than it receives), so downstream work parallelizes
    per-chunk. Clip-level decode is the memory bound: the whole clip is
    decoded in one task.
    """
    import numpy as np
    import pandas as pd  # noqa: PLC0415

    def run(batches):
        for pdf in batches:
            out = {k: [] for k in
                   ("media_id", "chunk_idx", "n_samples", "mean_abs", "peak",
                    "zero_crossings")}
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                _sr, arr = decode_wav(bytes(payload))
                mono = arr[:, 0].astype(np.int64)
                n = len(mono)
                for ci in range(max(1, -(-n // samples_per_chunk))):
                    ch = mono[ci * samples_per_chunk : (ci + 1) * samples_per_chunk]
                    out["media_id"].append(mid)
                    out["chunk_idx"].append(ci)
                    out["n_samples"].append(len(ch))
                    out["mean_abs"].append(
                        float(np.abs(ch).sum()) / len(ch) if len(ch) else None
                    )
                    out["peak"].append(int(np.abs(ch).max()) if len(ch) else None)
                    signs = np.sign(ch[ch != 0])
                    out["zero_crossings"].append(
                        int((signs[1:] != signs[:-1]).sum()) if len(signs) > 1 else 0
                    )
            yield pd.DataFrame(out)

    return df.select(id_col, payload_col).mapInPandas(run, schema=WAV_CHUNK_SCHEMA)


def transcode_image(payload: bytes, fmt: str = "jpeg") -> bytes:
    """Media-sink format conversion: decode any supported image payload
    (PPM/BMP/PNG/JPEG/GIF) and re-encode as ``fmt`` — the kernel the
    binary sink uses to normalize heterogeneous scraped payloads into one
    storage format. Same signature class as the resize kernels, so it
    drops into the Arrow mapInPandas plumbing unchanged."""
    px = decode_pixels(payload)
    if fmt == "ppm":
        return encode_ppm(px)
    if fmt == "bmp":
        return encode_bmp(px)
    if fmt == "png":
        return encode_png(px)
    if fmt == "gif":
        return encode_gif(px)
    if fmt in ("jpeg", "jpg"):
        return encode_jpeg_baseline(px)
    raise ValueError(f"unsupported target format {fmt!r}")


def transcode_images(
    df: DataFrame,
    fmt: str = "jpeg",
    payload_col: str = "payload",
    id_col: str = "media_id",
    out_col: str = "transcoded",
) -> DataFrame:
    """Arrow-batched transcode over binary payloads (the resize_images
    shape): (id, transcoded) with NULL-payload rows passed through as
    NULL."""
    import pandas as pd  # noqa: PLC0415 — executor-side import

    from pyspark.sql import types as T  # noqa: PLC0415

    schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField(out_col, T.BinaryType()),
        ]
    )

    def run(batches):
        for pdf in batches:
            out = [
                None if p is None else transcode_image(bytes(p), fmt)
                for p in pdf[payload_col]
            ]
            yield pd.DataFrame({id_col: pdf[id_col], out_col: out})

    return df.select(id_col, payload_col).mapInPandas(run, schema=schema)


# --- Progressive JPEG (SOF2) decode -------------------------------------------
# Completes the JPEG surface: spectral selection + successive
# approximation per ITU-T T.81 Annex G. Coefficients accumulate across
# scans in integer grids; dequantize + iDCT happen once at EOI through
# the same matrix kernel as the baseline path.


def _next_marker(payload: bytes, pos: int) -> int:
    """First position >= pos of a real marker (0xFF followed by neither
    0x00 stuffing nor an RSTn) — how the parser resumes after a
    progressive scan's entropy data."""
    p = pos
    while p + 1 < len(payload):
        if (
            payload[p] == 0xFF
            and payload[p + 1] != 0x00
            and not (0xD0 <= payload[p + 1] <= 0xD7)
        ):
            return p
        p += 1
    return len(payload)


def _jpeg_output(planes, sof, hmax, vmax):
    """Assemble spatial-domain, level-shifted component planes into
    (H, W, 3) uint8 RGB — shared by the baseline and progressive paths."""
    import numpy as np

    height, width, comps = sof
    out = []
    for c in comps:
        p = planes[c["id"]]
        p = np.repeat(np.repeat(p, vmax // c["v"], axis=0), hmax // c["h"], axis=1)
        out.append(p[:height, :width])
    if len(out) == 1:
        g = np.clip(out[0], 0, 255).astype(np.uint8)
        return np.repeat(g[:, :, None], 3, axis=2)
    y, cb, cr = out[0], out[1] - 128.0, out[2] - 128.0
    rgb = np.stack(
        [
            y + 1.402 * cr,
            y - 0.344136 * cb - 0.714136 * cr,
            y + 1.772 * cb,
        ],
        axis=2,
    )
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _prog_geometry(sof):
    height, width, comps = sof
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))
    geo = {}
    for c in comps:
        comp_w = -(-width * c["h"] // hmax)
        comp_h = -(-height * c["v"] // vmax)
        geo[c["id"]] = {
            "bw": mcux * c["h"],
            "bh": mcuy * c["v"],
            "cw": -(-comp_w // 8),
            "ch": -(-comp_h // 8),
        }
    return hmax, vmax, mcux, mcuy, geo


def _decode_progressive_scan(
    payload, start, coef, pred, sof, scan, huff, ss, se, ah, al,
    restart_interval,
):
    """One SOF2 scan (T.81 G.2): DC first/refine (possibly interleaved in
    MCU order), AC first/refine (single component over its own block
    grid, with EOB runs). Mutates the integer coefficient grids in
    ``coef`` (natural order, index via _ZIGZAG) and the DC predictors in
    ``pred``; returns the payload position where marker parsing
    resumes."""
    height, width, comps = sof
    by_id = {c["id"]: c for c in comps}
    hmax, vmax, mcux, mcuy, geo = _prog_geometry(sof)
    if (ss == 0) != (se == 0):
        raise ValueError("bad progressive scan header (DC scan needs Se=0)")
    reader = _JpegBitReader(payload, start)
    eobrun = [0]
    for c in comps:
        pred[c["id"]] = 0  # T.81: DC prediction resets at scan start

    def apply_correction(zz, p, delta):
        if reader.read_bit():
            if zz[p] > 0:
                if not (zz[p] & delta):
                    zz[p] += delta
            else:
                if not ((-zz[p]) & delta):
                    zz[p] -= delta

    def refine_nonzero(zz, k, delta):
        while k <= se:
            p = _ZIGZAG[k]
            if zz[p] != 0:
                apply_correction(zz, p, delta)
            k += 1

    def ac_first(zz, ac_tbl):
        if eobrun[0] > 0:
            eobrun[0] -= 1
            return
        k = ss
        while k <= se:
            rs = _huff_decode(reader, ac_tbl)
            r, s = rs >> 4, rs & 0xF
            if s == 0:
                if r == 15:
                    k += 16
                    continue
                eobrun[0] = (1 << r) + (reader.read_bits(r) if r else 0) - 1
                return
            k += r
            if k > se:
                raise ValueError("JPEG AC run overflow")
            zz[_ZIGZAG[k]] = _extend(reader.read_bits(s), s) << al
            k += 1

    def ac_refine(zz, ac_tbl):
        delta = 1 << al
        if eobrun[0] > 0:
            eobrun[0] -= 1
            refine_nonzero(zz, ss, delta)
            return
        k = ss
        while k <= se:
            rs = _huff_decode(reader, ac_tbl)
            r, s = rs >> 4, rs & 0xF
            if s == 0:
                if r != 15:
                    eobrun[0] = (1 << r) + (reader.read_bits(r) if r else 0) - 1
                    refine_nonzero(zz, k, delta)
                    return
                newval = 0
            elif s == 1:
                newval = delta if reader.read_bit() else -delta
            else:
                raise ValueError("bad JPEG AC-refine magnitude")
            # advance past r zero-HISTORY positions, emitting correction
            # bits at nonzero-history positions crossed, then place the
            # new ±delta coefficient (ZRL: r=15, nothing placed)
            while k <= se:
                p = _ZIGZAG[k]
                if zz[p] != 0:
                    apply_correction(zz, p, delta)
                elif r == 0:
                    if newval:
                        zz[p] = newval
                    k += 1
                    break
                else:
                    r -= 1
                k += 1

    def decode_unit(cid, td, ta, by, bx):
        zz = coef[cid][by, bx]
        if ss == 0:
            if ah == 0:
                ssss = _huff_decode(reader, huff[(0, td)])
                diff = _extend(reader.read_bits(ssss), ssss)
                pred[cid] += diff
                zz[0] = pred[cid] << al
            else:
                if reader.read_bit():
                    zz[0] |= 1 << al
        else:
            if ah == 0:
                ac_first(zz, huff[(1, ta)])
            else:
                ac_refine(zz, huff[(1, ta)])

    n_unit = 0

    def maybe_restart():
        if restart_interval and n_unit and n_unit % restart_interval == 0:
            reader.consume_restart()
            for c in comps:
                pred[c["id"]] = 0
            eobrun[0] = 0

    if ss == 0 and len(scan) > 1:
        for my in range(mcuy):
            for mx in range(mcux):
                maybe_restart()
                for cid, td, ta in scan:
                    comp = by_id[cid]
                    for yy in range(comp["v"]):
                        for xx in range(comp["h"]):
                            decode_unit(
                                cid, td, ta,
                                my * comp["v"] + yy, mx * comp["h"] + xx,
                            )
                n_unit += 1
    else:
        if ss != 0 and len(scan) != 1:
            raise ValueError("progressive AC scan must be single-component")
        cid, td, ta = scan[0]
        g = geo[cid]
        for by in range(g["ch"]):
            for bx in range(g["cw"]):
                maybe_restart()
                decode_unit(cid, td, ta, by, bx)
                n_unit += 1
    return _next_marker(payload, reader.pos)


def _finish_progressive(coef, sof, qt):
    """Dequantize + iDCT the accumulated coefficient grids and assemble
    RGB — the progressive twin of the baseline scan's tail."""
    import numpy as np

    hmax, vmax, mcux, mcuy, geo = _prog_geometry(sof)
    height, width, comps = sof
    m = _dct_mat()
    planes = {}
    for c in comps:
        g = geo[c["id"]]
        plane = np.zeros((g["bh"] * 8, g["bw"] * 8), dtype=np.float64)
        q = qt[c["tq"]]
        grid = coef[c["id"]]
        for by in range(g["bh"]):
            for bx in range(g["bw"]):
                zz = grid[by, bx].astype(np.float64)
                block = m.T @ (zz.reshape(8, 8) * q) @ m + 128.0
                plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = block
        planes[c["id"]] = plane
    return _jpeg_output(planes, sof, hmax, vmax)


# --- WebP lossless (VP8L) -------------------------------------------------------
# First-frame decode of a lossless WebP (RIFF 'WEBP' + 'VP8L' chunk) per
# the public WebP Lossless Bitstream Specification (RFC 9649 / Google
# "webp-lossless-bitstream-spec"): LSB-first bitstream, canonical prefix
# codes (RFC 1951 ordering), optional color cache, LZ77 backward
# references with the 120-entry two-dimensional distance map, meta
# prefix-code tiling, and the four transforms (predictor with all 14
# modes, cross-color, subtract-green, color indexing with sub-byte pixel
# bundling), inverted in reverse bitstream order. The encoder that makes
# the test fixtures (every transform, cache and LZ77 emission) is
# tests/media_encoders.py::encode_webp_lossless. Closes the declared
# decode_pixels plug point for WebP; VP8 (lossy) WebP remains out of
# scope — it is a full inter-prediction DCT codec, and the reference's
# payloads are lossless-style rasters.

_VP8L_CL_ORDER = (
    17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15,
)

# Encoder-side plane lut (8 rows × 16 cols, row = yoffset, col = 8 -
# xoffset; 255 = unmapped): value v at index i means near-distance
# (xoffset, yoffset) codes as plane code v+1. Verified structurally:
# each of 0..119 appears exactly once. Decoder inverts it.
_VP8L_PLANE_LUT = (
     96,  73,  55,  39,  23,  13,   5,  1, 255, 255, 255, 255, 255, 255, 255, 255,
    101,  78,  58,  42,  26,  16,   8,  2,   0,   3,   9,  17,  27,  43,  59,  79,
    102,  86,  62,  46,  32,  20,  10,  6,   4,   7,  11,  21,  33,  47,  63,  87,
    105,  90,  70,  52,  37,  28,  18, 14,  12,  15,  19,  29,  38,  53,  71,  91,
    110,  99,  82,  66,  48,  35,  30, 24,  22,  25,  31,  36,  49,  67,  83, 100,
    115, 108,  94,  76,  64,  50,  44, 40,  34,  41,  45,  51,  65,  77,  95, 109,
    118, 113, 103,  92,  80,  68,  60, 56,  54,  57,  61,  69,  81,  93, 104, 114,
    119, 116, 111, 106,  97,  88,  84, 74,  72,  75,  85,  89,  98, 107, 112, 117,
)
_VP8L_CODE_TO_PLANE = [0] * 120
for _i, _v in enumerate(_VP8L_PLANE_LUT):
    if _v != 255:
        _VP8L_CODE_TO_PLANE[_v] = _i
assert sorted(_v for _v in _VP8L_PLANE_LUT if _v != 255) == list(range(120))


class _Vp8lBitReader:
    """LSB-first bit reader (VP8L convention, same as DEFLATE fields)."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0  # bit position

    def bits(self, n: int) -> int:
        if n == 0:
            return 0
        byte_i = self.pos >> 3
        chunk = int.from_bytes(
            self.data[byte_i : byte_i + ((n + 14) >> 3) + 1], "little"
        )
        out = (chunk >> (self.pos & 7)) & ((1 << n) - 1)
        self.pos += n
        if (self.pos - 1) >> 3 >= len(self.data):
            raise ValueError("truncated VP8L bitstream")
        return out

    def bit(self) -> int:
        return self.bits(1)


class _Vp8lCode:
    """Canonical prefix code (RFC 1951 ordering): decode walks bit by
    bit, appending each new LSB-first stream bit as the code's next
    LOWER bit (codes are packed MSB first, like DEFLATE's Huffman
    codes). A single-symbol code reads zero bits."""

    def __init__(self, lengths) -> None:
        live = [(ln, sym) for sym, ln in enumerate(lengths) if ln > 0]
        if not live:
            raise ValueError("empty prefix code")
        self.single = live[0][1] if len(live) == 1 else None
        live.sort()
        self.max_len = live[-1][0]
        # per length: first canonical code, first index into syms
        self.syms = [s for _, s in live]
        self.first_code = {}
        self.first_idx = {}
        self.count = {}
        code = 0
        prev_len = 0
        for idx, (ln, _) in enumerate(live):
            code <<= ln - prev_len
            prev_len = ln
            if ln not in self.first_code:
                self.first_code[ln] = code
                self.first_idx[ln] = idx
                self.count[ln] = 0
            self.count[ln] += 1
            code += 1

    def read(self, br: _Vp8lBitReader) -> int:
        if self.single is not None:
            return self.single
        code = 0
        ln = 0
        while True:
            code = (code << 1) | br.bit()
            ln += 1
            if ln > self.max_len:
                raise ValueError("invalid VP8L prefix code")
            fc = self.first_code.get(ln)
            if fc is not None and fc <= code < fc + self.count[ln]:
                return self.syms[self.first_idx[ln] + code - fc]


def _vp8l_read_code(br: _Vp8lBitReader, alphabet_size: int) -> _Vp8lCode:
    """One prefix code: the 'simple' 1-2 symbol form or the RFC-1951-
    style code-length-coded form (with repeats 16/17/18 and the optional
    max_symbol cap)."""
    if br.bit():  # simple
        num_symbols = br.bit() + 1
        first_len = 8 if br.bit() else 1
        lengths = [0] * alphabet_size
        syms = [br.bits(first_len)]
        if num_symbols == 2:
            syms.append(br.bits(8))
        if len(set(syms)) != num_symbols:
            # duplicate symbols would collapse a 1-bit-per-read code
            # into a 0-bit one and silently desync the whole stream
            raise ValueError("VP8L simple code repeats a symbol")
        for s in syms:
            if s >= alphabet_size:  # 8-bit symbol vs a small alphabet
                raise ValueError(
                    f"VP8L simple-code symbol {s} outside alphabet"
                    f" of {alphabet_size}"
                )
            lengths[s] = 1
        return _Vp8lCode(lengths)
    num_cl = 4 + br.bits(4)
    cl_lengths = [0] * 19
    for i in range(num_cl):
        cl_lengths[_VP8L_CL_ORDER[i]] = br.bits(3)
    cl_code = _Vp8lCode(cl_lengths)
    if br.bit():  # length-limited read
        nbits = 2 + 2 * br.bits(3)
        max_symbol = 2 + br.bits(nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    sym = 0
    prev_len = 8
    while sym < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        cl = cl_code.read(br)
        if cl < 16:
            lengths[sym] = cl
            sym += 1
            if cl:
                prev_len = cl
        elif cl == 16:
            rep = 3 + br.bits(2)
            for _ in range(min(rep, alphabet_size - sym)):
                lengths[sym] = prev_len
                sym += 1
        elif cl == 17:
            sym += 3 + br.bits(3)
        else:
            sym += 11 + br.bits(7)
    return _Vp8lCode(lengths)


def _vp8l_prefix_value(br: _Vp8lBitReader, code: int) -> int:
    """LZ77 length/distance prefix decoding (shared scheme)."""
    if code < 4:
        return code + 1
    eb = (code - 2) >> 1
    return ((2 + (code & 1)) << eb) + br.bits(eb) + 1


def _vp8l_subsample(size: int, bits: int) -> int:
    return (size + (1 << bits) - 1) >> bits


def _vp8l_decode_pixels(br, w, h, groups, meta, meta_bits, cache_bits):
    """Scan-order pixel decode: literals, color-cache hits, LZ77 copies
    (distance through the plane map). Returns packed-ARGB ints."""
    n = w * h
    pix = [0] * n
    cache = [0] * (1 << cache_bits) if cache_bits else None
    cache_shift = 32 - cache_bits if cache_bits else 0
    pos = 0
    while pos < n:
        if meta is None:
            g_code, r_code, b_code, a_code, d_code = groups[0]
        else:
            x = pos % w
            y = pos // w
            gi = meta[(y >> meta_bits) * _vp8l_subsample(w, meta_bits) + (x >> meta_bits)]
            g_code, r_code, b_code, a_code, d_code = groups[gi]
        s = g_code.read(br)
        if s < 256:  # literal
            r = r_code.read(br)
            b = b_code.read(br)
            a = a_code.read(br)
            argb = (a << 24) | (r << 16) | (s << 8) | b
            pix[pos] = argb
            pos += 1
            if cache is not None:
                cache[((0x1E35A7BD * argb) & 0xFFFFFFFF) >> cache_shift] = argb
        elif s < 256 + 24:  # backward reference
            length = _vp8l_prefix_value(br, s - 256)
            dist_code = _vp8l_prefix_value(br, d_code.read(br))
            if dist_code > 120:
                dist = dist_code - 120
            else:
                packed = _VP8L_CODE_TO_PLANE[dist_code - 1]
                dist = (packed >> 4) * w + (8 - (packed & 0xF))
                if dist < 1:
                    dist = 1
            if dist > pos or pos + length > n:
                raise ValueError("VP8L backward reference out of range")
            for _ in range(length):
                argb = pix[pos - dist]
                pix[pos] = argb
                pos += 1
                if cache is not None:
                    cache[
                        ((0x1E35A7BD * argb) & 0xFFFFFFFF) >> cache_shift
                    ] = argb
        else:  # color cache hit
            if cache is None:
                raise ValueError("VP8L cache symbol without a color cache")
            pix[pos] = cache[s - 256 - 24]
            pos += 1
    return pix


def _vp8l_decode_image_stream(br, w, h, level0):
    """One VP8L image stream: [transforms (level 0 only)], color cache
    bit, [meta prefix image (level 0 only)], prefix-code groups, pixel
    decode, inverse transforms in reverse read order. Returns packed
    ARGB ints, row-major."""
    transforms = []
    if level0:
        seen = set()
        while br.bit():
            ttype = br.bits(2)
            if ttype in seen:
                raise ValueError("duplicate VP8L transform")
            seen.add(ttype)
            if ttype == 0 or ttype == 1:  # predictor / cross-color
                size_bits = br.bits(3) + 2
                tw = _vp8l_subsample(w, size_bits)
                th = _vp8l_subsample(h, size_bits)
                timg = _vp8l_decode_image_stream(br, tw, th, False)
                transforms.append((ttype, size_bits, timg))
            elif ttype == 2:  # subtract green
                transforms.append((2, None, None))
            else:  # color indexing
                n_colors = br.bits(8) + 1
                deltas = _vp8l_decode_image_stream(br, n_colors, 1, False)
                palette = []
                prev = 0
                for d in deltas:
                    # componentwise byte-add to the previous entry
                    entry = (
                        (((prev >> 24) + (d >> 24)) & 0xFF) << 24
                        | (((prev >> 16) + (d >> 16)) & 0xFF) << 16
                        | (((prev >> 8) + (d >> 8)) & 0xFF) << 8
                        | ((prev + d) & 0xFF)
                    )
                    palette.append(entry)
                    prev = entry
                if n_colors <= 2:
                    pack_bits = 3
                elif n_colors <= 4:
                    pack_bits = 2
                elif n_colors <= 16:
                    pack_bits = 1
                else:
                    pack_bits = 0
                transforms.append((3, (pack_bits, w, palette), None))
                if pack_bits:
                    w = _vp8l_subsample(w, pack_bits)
    cache_bits = 0
    if br.bit():
        cache_bits = br.bits(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError(f"invalid VP8L color cache bits {cache_bits}")
    meta = None
    meta_bits = 0
    n_groups = 1
    if level0 and br.bit():
        meta_bits = br.bits(3) + 2
        mimg = _vp8l_decode_image_stream(
            br, _vp8l_subsample(w, meta_bits), _vp8l_subsample(h, meta_bits),
            False,
        )
        meta = [(p >> 8) & 0xFFFF for p in mimg]
        n_groups = max(meta) + 1
    green_size = 256 + 24 + ((1 << cache_bits) if cache_bits else 0)
    groups = []
    for _ in range(n_groups):
        groups.append(
            (
                _vp8l_read_code(br, green_size),
                _vp8l_read_code(br, 256),
                _vp8l_read_code(br, 256),
                _vp8l_read_code(br, 256),
                _vp8l_read_code(br, 40),
            )
        )
    pix = _vp8l_decode_pixels(br, w, h, groups, meta, meta_bits, cache_bits)
    for ttype, arg, timg in reversed(transforms):
        if ttype == 3:
            pack_bits, full_w, palette = arg
            if pack_bits:
                packed_w = _vp8l_subsample(full_w, pack_bits)
                per = 1 << pack_bits
                mask = (1 << (8 >> pack_bits)) - 1
                out = []
                rows = h
                for y in range(rows):
                    row = []
                    for xp in range(packed_w):
                        g = (pix[y * packed_w + xp] >> 8) & 0xFF
                        for k in range(per):
                            idx = (g >> (k * (8 >> pack_bits))) & mask
                            row.append(idx)
                    out.extend(row[:full_w])
                idx_stream = out
                w = full_w
            else:
                idx_stream = [(p >> 8) & 0xFF for p in pix]
            pix = [
                palette[i] if i < len(palette) else 0 for i in idx_stream
            ]
        elif ttype == 2:  # add green back
            pix = [
                (p & 0xFF000000)
                | ((((p >> 16) + (p >> 8)) & 0xFF) << 16)
                | (p & 0xFF00)
                | ((p + (p >> 8)) & 0xFF)
                for p in pix
            ]
        elif ttype == 1:  # cross-color inverse
            pix = _vp8l_inverse_color_transform(pix, w, h, arg, timg)
        else:  # predictor inverse
            pix = _vp8l_inverse_predictor(pix, w, h, arg, timg)
    return pix


def _ctd(t: int, c: int) -> int:
    """ColorTransformDelta: signed-int8 product, arithmetic >> 5."""
    ts = t - 256 if t >= 128 else t
    cs = c - 256 if c >= 128 else c
    return (ts * cs) >> 5


def _vp8l_inverse_color_transform(pix, w, h, size_bits, timg):
    tw = _vp8l_subsample(w, size_bits)
    out = [0] * len(pix)
    for pos, p in enumerate(pix):
        x = pos % w
        y = pos // w
        cte = timg[(y >> size_bits) * tw + (x >> size_bits)]
        g2r = cte & 0xFF
        g2b = (cte >> 8) & 0xFF
        r2b = (cte >> 16) & 0xFF
        g = (p >> 8) & 0xFF
        r = ((p >> 16) & 0xFF) + _ctd(g2r, g)
        r &= 0xFF
        b = (p & 0xFF) + _ctd(g2b, g) + _ctd(r2b, r)
        out[pos] = (p & 0xFF00FF00) | (r << 16) | (b & 0xFF)
    return out


def _vp8l_avg2(a: int, b: int) -> int:
    """Per-channel (a + b) / 2 on packed ARGB."""
    return (((a ^ b) & 0xFEFEFEFE) >> 1) + (a & b)


def _vp8l_clamp_add_sub_full(l, t, tl):  # noqa: E741
    out = 0
    for sh in (24, 16, 8, 0):
        v = ((l >> sh) & 0xFF) + ((t >> sh) & 0xFF) - ((tl >> sh) & 0xFF)
        out |= max(0, min(255, v)) << sh
    return out


def _vp8l_clamp_add_sub_half(avg, tl):
    out = 0
    for sh in (24, 16, 8, 0):
        a = (avg >> sh) & 0xFF
        b = (tl >> sh) & 0xFF
        d = a - b
        # C integer division truncates toward zero
        half = d // 2 if d >= 0 else -((-d) // 2)
        out |= max(0, min(255, a + half)) << sh
    return out


def _vp8l_select(l, t, tl):  # noqa: E741
    pl = pt = 0
    for sh in (24, 16, 8, 0):
        lc = (l >> sh) & 0xFF
        tc = (t >> sh) & 0xFF
        tlc = (tl >> sh) & 0xFF
        p = lc + tc - tlc
        pl += abs(p - lc)
        pt += abs(p - tc)
    return l if pl < pt else t


def _vp8l_predict(mode, l, t, tl, tr):  # noqa: E741
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return l
    if mode == 2:
        return t
    if mode == 3:
        return tr
    if mode == 4:
        return tl
    if mode == 5:
        return _vp8l_avg2(_vp8l_avg2(l, tr), t)
    if mode == 6:
        return _vp8l_avg2(l, tl)
    if mode == 7:
        return _vp8l_avg2(l, t)
    if mode == 8:
        return _vp8l_avg2(tl, t)
    if mode == 9:
        return _vp8l_avg2(t, tr)
    if mode == 10:
        return _vp8l_avg2(_vp8l_avg2(l, tl), _vp8l_avg2(t, tr))
    if mode == 11:
        return _vp8l_select(l, t, tl)
    if mode == 12:
        return _vp8l_clamp_add_sub_full(l, t, tl)
    if mode == 13:
        return _vp8l_clamp_add_sub_half(_vp8l_avg2(l, t), tl)
    raise ValueError(f"invalid VP8L predictor mode {mode}")


def _vp8l_inverse_predictor(pix, w, h, size_bits, timg):
    tw = _vp8l_subsample(w, size_bits)
    out = [0] * len(pix)
    for pos, res in enumerate(pix):
        x = pos % w
        y = pos // w
        if pos == 0:
            pred = 0xFF000000
        elif y == 0:
            pred = out[pos - 1]  # L
        elif x == 0:
            pred = out[pos - w]  # T
        else:
            mode = (timg[(y >> size_bits) * tw + (x >> size_bits)] >> 8) & 0xFF
            # top-right of the last column wraps to this row's first
            # pixel (contiguous-buffer rule the spec codifies)
            tr = out[pos - w + 1]
            pred = _vp8l_predict(
                mode, out[pos - 1], out[pos - w], out[pos - w - 1], tr
            )
        out[pos] = (
            (((res >> 24) + (pred >> 24)) & 0xFF) << 24
            | (((res >> 16) + (pred >> 16)) & 0xFF) << 16
            | (((res >> 8) + (pred >> 8)) & 0xFF) << 8
            | ((res + pred) & 0xFF)
        )
    return out


def _decode_webp(payload: bytes):
    """RIFF 'WEBP' container → first VP8L chunk → (H, W, 3) RGB uint8.
    Lossy 'VP8 ' chunks raise ValueError (declared out of scope)."""
    import struct as _struct

    import numpy as np

    (riff_size,) = _struct.unpack_from("<I", payload, 4)
    end = min(len(payload), 8 + riff_size)
    pos = 12
    data = None
    while pos + 8 <= end:
        fourcc = payload[pos : pos + 4]
        (size,) = _struct.unpack_from("<I", payload, pos + 4)
        if fourcc == b"VP8L":
            data = payload[pos + 8 : pos + 8 + size]
            break
        if fourcc in (b"VP8 ", b"VP8X"):
            # VP8X may wrap a VP8L chunk further on — keep walking
            if fourcc == b"VP8 ":
                raise ValueError(
                    "lossy (VP8) WebP unsupported — lossless (VP8L) only"
                )
        pos += 8 + size + (size & 1)
    if data is None:
        raise ValueError("WebP container has no VP8L chunk")
    if not data or data[0] != 0x2F:
        raise ValueError("bad VP8L signature byte")
    br = _Vp8lBitReader(data[1:])
    w = br.bits(14) + 1
    h = br.bits(14) + 1
    br.bit()  # alpha-is-used hint
    if br.bits(3) != 0:
        raise ValueError("unsupported VP8L version")
    pix = _vp8l_decode_image_stream(br, w, h, True)
    arr = np.array(pix, dtype=np.uint32).reshape(h, w)
    rgb = np.empty((h, w, 3), dtype=np.uint8)
    rgb[:, :, 0] = (arr >> 16) & 0xFF
    rgb[:, :, 1] = (arr >> 8) & 0xFF
    rgb[:, :, 2] = arr & 0xFF
    return rgb
