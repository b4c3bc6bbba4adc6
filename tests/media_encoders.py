"""Encoders that build media fixtures for the decoder tests: progressive
JPEG, lossless WebP (VP8L), MJPEG-in-AVI and PCM-16 WAV. The package only
decodes these formats, so their write sides live with the tests. Each
encoder shares the package's tables and bit writers, and its output
decodes through ``multimodal.decode_pixels`` / ``decode_wav``."""

from __future__ import annotations

from data_pipelines_cu_spark.operators.multimodal import (
    _QT_CHROMA,
    _QT_LUMA,
    _VP8L_CL_ORDER,
    _VP8L_PLANE_LUT,
    _ZIGZAG,
    _canonical_codes,
    _ctd,
    _dct_mat,
    _JpegBitWriter,
    _vp8l_predict,
    _vp8l_subsample,
    encode_jpeg_baseline,
)


def _flat_table(symbols):
    """Fixed-length canonical Huffman table over ``symbols``: every code
    the same length L with 2^L > n, so the all-ones code stays unused
    (T.81 requirement). Valid, compact enough for fixtures, and decodes
    through the same _decode_map as the Annex K tables."""
    syms = sorted(symbols)
    n = len(syms)
    length = max(1, (n + 1 - 1).bit_length())
    if (1 << length) <= n:
        length += 1
    bits = [0] * 16
    bits[length - 1] = n
    return bits, syms


def encode_jpeg_progressive(arr, al: int = 1) -> bytes:
    """Progressive (SOF2) JFIF encoder, 4:4:4, with ONE successive-
    approximation level: DC/AC first scans at point transform ``al``,
    then DC/AC refinement scans down to ``al``−1 — exercising all four
    progressive scan types (including EOB runs and AC correction bits).
    The entropy stream is generated by simulating the decoder's exact
    read order, so round-trip equality with _decode_progressive_scan is
    structural, not incidental."""
    import struct

    import numpy as np

    if al < 1:
        raise ValueError("al must be >= 1 (one refinement level)")
    px = np.asarray(arr, dtype=np.float64)
    h, w = px.shape[0], px.shape[1]
    r, g, b = px[:, :, 0], px[:, :, 1], px[:, :, 2]
    planes = [
        0.299 * r + 0.587 * g + 0.114 * b,
        -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
        0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
    ]
    qmats = [
        np.array(_QT_LUMA, dtype=np.float64).reshape(8, 8),
        np.array(_QT_CHROMA, dtype=np.float64).reshape(8, 8),
    ]
    m = _dct_mat()
    mcux, mcuy = -(-w // 8), -(-h // 8)

    def pad(p):
        full = np.empty((mcuy * 8, mcux * 8))
        full[:h, :w] = p
        if w < mcux * 8:
            full[:h, w:] = p[:, -1:]
        if h < mcuy * 8:
            full[h:, :] = full[h - 1 : h, :]
        return full - 128.0

    blocks = []  # blocks[ci][by][bx] = zig-order int list (64)
    for ci in range(3):
        plane = pad(planes[ci])
        q = qmats[0 if ci == 0 else 1]
        rows = []
        for by in range(mcuy):
            row = []
            for bx in range(mcux):
                blk = plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                quant = np.round((m @ blk @ m.T) / q).astype(np.int64)
                row.append([int(quant.flat[_ZIGZAG[k]]) for k in range(64)])
            rows.append(row)
        blocks.append(rows)

    def put_mag(v):
        ssss = int(v != 0) and int(abs(v)).bit_length()
        extra = v if v >= 0 else v + (1 << ssss) - 1
        return ssss, extra, ssss

    def trunc(v, shift):
        return v >> shift if v >= 0 else -((-v) >> shift)

    def scan_dc_first(sym, bits):
        pred = [0, 0, 0]
        for by in range(mcuy):
            for bx in range(mcux):
                for ci in range(3):
                    t = blocks[ci][by][bx][0] >> al
                    diff = t - pred[ci]
                    pred[ci] = t
                    ssss, extra, n = put_mag(diff)
                    sym("dc", ssss)
                    if n:
                        bits(extra, n)

    def scan_dc_refine(sym, bits):
        for by in range(mcuy):
            for bx in range(mcux):
                for ci in range(3):
                    bits((blocks[ci][by][bx][0] >> (al - 1)) & 1, 1)

    def scan_ac_first(ci):
        def run(sym, bits):
            eobrun = [0]

            def flush():
                if eobrun[0]:
                    nb = eobrun[0].bit_length() - 1
                    sym("acf", nb << 4)
                    if nb:
                        bits(eobrun[0] - (1 << nb), nb)
                    eobrun[0] = 0

            for by in range(mcuy):
                for bx in range(mcux):
                    zzb = blocks[ci][by][bx]
                    t = [0] + [trunc(zzb[k], al) for k in range(1, 64)]
                    nz = [k for k in range(1, 64) if t[k]]
                    if not nz:
                        eobrun[0] += 1
                        if eobrun[0] == 0x7FFF:
                            flush()
                        continue
                    flush()
                    last = max(nz)
                    run_ = 0
                    for k in range(1, last + 1):
                        v = t[k]
                        if v == 0:
                            run_ += 1
                            continue
                        while run_ > 15:
                            sym("acf", 0xF0)
                            run_ -= 16
                        ssss, extra, n = put_mag(v)
                        sym("acf", (run_ << 4) | ssss)
                        bits(extra, n)
                        run_ = 0
                    if last < 63:
                        eobrun[0] += 1
            flush()

        return run

    def scan_ac_refine(ci):
        def run(sym, bits):
            lo = al - 1
            eobrun = [0]
            eob_bits = []

            def flush():
                if eobrun[0]:
                    nb = eobrun[0].bit_length() - 1
                    sym("acr", nb << 4)
                    if nb:
                        bits(eobrun[0] - (1 << nb), nb)
                    for bit in eob_bits:
                        bits(bit, 1)
                    eobrun[0] = 0
                    eob_bits.clear()

            for by in range(mcuy):
                for bx in range(mcux):
                    zzb = blocks[ci][by][bx]
                    absv = [abs(zzb[k]) >> lo for k in range(64)]
                    news = [k for k in range(1, 64) if absv[k] == 1]
                    if news:
                        flush()
                        pos = 1
                        for kn in news:
                            zeros = sum(
                                1 for kk in range(pos, kn) if absv[kk] <= 1
                            )
                            # decoder walk simulation: ZRLs skip 16
                            # zero-history positions each, crossing
                            # history positions whose correction bits
                            # ride immediately behind each symbol
                            while zeros > 15:
                                sym("acr", 0xF0)
                                skipped = 0
                                while skipped < 16:
                                    if absv[pos] > 1:
                                        bits(absv[pos] & 1, 1)
                                    else:
                                        skipped += 1
                                    pos += 1
                                zeros -= 16
                            sym("acr", (zeros << 4) | 1)
                            bits(1 if zzb[kn] > 0 else 0, 1)
                            while pos < kn:
                                if absv[pos] > 1:
                                    bits(absv[pos] & 1, 1)
                                pos += 1
                            pos = kn + 1
                        tail = [
                            absv[kk] & 1
                            for kk in range(news[-1] + 1, 64)
                            if absv[kk] > 1
                        ]
                        if news[-1] == 63:
                            continue
                        eobrun[0] += 1
                        eob_bits.extend(tail)
                    else:
                        eobrun[0] += 1
                        eob_bits.extend(
                            absv[kk] & 1 for kk in range(1, 64) if absv[kk] > 1
                        )
                    if eobrun[0] == 0x7FFF:
                        flush()
            flush()

        return run

    scans = [
        (scan_dc_first, 3, 0, 0, 0, 0, al),
        (scan_ac_first(0), 1, 0, 1, 63, 0, al),
        (scan_ac_first(1), 1, 1, 1, 63, 0, al),
        (scan_ac_first(2), 1, 2, 1, 63, 0, al),
        (scan_dc_refine, 3, 0, 0, 0, al, al - 1),
        (scan_ac_refine(0), 1, 0, 1, 63, al, al - 1),
        (scan_ac_refine(1), 1, 1, 1, 63, al, al - 1),
        (scan_ac_refine(2), 1, 2, 1, 63, al, al - 1),
    ]

    # pass 1: collect the symbols each table role actually needs
    used = {"dc": set(), "acf": set(), "acr": set()}
    for fn, *_ in scans:
        fn(lambda role, s: used[role].add(s), lambda v, n: None)
    tables = {role: _flat_table(syms or {0}) for role, syms in used.items()}
    codes = {role: _canonical_codes(*tbl) for role, tbl in tables.items()}

    # pass 2: emit each scan's entropy stream
    streams = []
    for fn, *_ in scans:
        writer = _JpegBitWriter()

        def sym(role, s, _w=writer):
            code, ln = codes[role][s]
            _w.write(code, ln)

        def bits(v, n, _w=writer):
            if n:
                _w.write(v, n)

        fn(sym, bits)
        writer.flush()
        streams.append(bytes(writer.out))

    def seg(marker, body):
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    dqt = b"".join(
        bytes([tq]) + bytes(int(qmats[tq].flat[_ZIGZAG[k]]) for k in range(64))
        for tq in (0, 1)
    )
    sof = struct.pack(">BHHB", 8, h, w, 3) + b"".join(
        struct.pack(">BBB", cid, 0x11, tq)
        for cid, tq in [(1, 0), (2, 1), (3, 1)]
    )
    dht = b"".join(
        bytes([(tc << 4) | th]) + bytes(tables[role][0]) + bytes(tables[role][1])
        for (tc, th), role in [((0, 0), "dc"), ((1, 0), "acf"), ((1, 1), "acr")]
    )
    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, dqt)
    out += seg(0xC2, sof)
    out += seg(0xC4, dht)
    for (fn, ns, ci0, ss, se, ah, al_), stream in zip(scans, streams):
        if ns == 3:
            comps = b"".join(
                struct.pack(">BB", cid, 0x00) for cid in (1, 2, 3)
            )
        else:
            ta = 0 if ah == 0 else 1
            comps = struct.pack(">BB", ci0 + 1, ta)
        sos = (
            struct.pack(">B", ns)
            + comps
            + struct.pack(">BBB", ss, se, (ah << 4) | al_)
        )
        out += seg(0xDA, sos)
        out += stream
    out += b"\xff\xd9"
    return bytes(out)


class _Vp8lBitWriter:
    """LSB-first bit packer (mirror of _Vp8lBitReader)."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def bits(self, value: int, n: int) -> None:
        self.acc |= (value & ((1 << n) - 1)) << self.nbits
        self.nbits += n
        while self.nbits >= 8:
            self.buf.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def code(self, code: int, length: int) -> None:
        """Prefix-code bits are packed MSB first (DEFLATE convention)."""
        for i in range(length - 1, -1, -1):
            self.bits((code >> i) & 1, 1)

    def bytes(self) -> bytes:
        out = bytearray(self.buf)
        if self.nbits:
            out.append(self.acc & 0xFF)
        return bytes(out)


def _vp8l_huffman_lengths(freqs, cap: int = 15):
    """Code lengths from symbol frequencies: plain Huffman (heapq),
    asserted within the 15-bit cap (test-scale images never overflow
    it; a production encoder would package-merge)."""
    import heapq

    live = [(f, s) for s, f in enumerate(freqs) if f > 0]
    lengths = [0] * len(freqs)
    if not live:
        return lengths
    if len(live) == 1:
        lengths[live[0][1]] = 1
        return lengths
    heap = [(f, (s,)) for f, s in live]
    heapq.heapify(heap)
    while len(heap) > 1:
        fa, sa = heapq.heappop(heap)
        fb, sb = heapq.heappop(heap)
        for s in sa + sb:
            lengths[s] += 1
        heapq.heappush(heap, (fa + fb, sa + sb))
    assert max(lengths) <= cap, "Huffman length cap exceeded"
    return lengths


def _vp8l_canonical_codes(lengths):
    """RFC 1951 canonical code assignment for the given lengths."""
    live = sorted(
        (ln, sym) for sym, ln in enumerate(lengths) if ln > 0
    )
    codes = {}
    code = 0
    prev_len = 0
    for ln, sym in live:
        code <<= ln - prev_len
        prev_len = ln
        codes[sym] = (code, ln)
        code += 1
    return codes


def _vp8l_write_code(bw: _Vp8lBitWriter, lengths) -> dict:
    """Write one prefix code (simple form when it fits, else the
    code-length-coded form with NO repeat compression — every symbol's
    length spelled out) and return the canonical code table."""
    live = [s for s, ln in enumerate(lengths) if ln > 0]
    if 1 <= len(live) <= 2 and all(s < 256 for s in live):
        bw.bits(1, 1)  # simple
        bw.bits(len(live) - 1, 1)
        bw.bits(1, 1)  # first symbol in 8 bits
        bw.bits(live[0], 8)
        if len(live) == 2:
            bw.bits(live[1], 8)
        if len(live) == 1:
            return {live[0]: (0, 0)}
        return {live[0]: (0, 1), live[1]: (1, 1)}
    bw.bits(0, 1)  # complex
    cl_freq = [0] * 19
    for ln in lengths:
        cl_freq[ln] += 1
    cl_lengths = _vp8l_huffman_lengths(cl_freq, 7)
    # order-coded 3-bit lengths for all 19 code-length symbols
    bw.bits(19 - 4, 4)
    for sym in _VP8L_CL_ORDER:
        bw.bits(cl_lengths[sym], 3)
    cl_codes = _vp8l_canonical_codes(cl_lengths)
    bw.bits(0, 1)  # no max_symbol cap: spell out every length
    single = len(cl_codes) == 1
    for ln in lengths:
        if not single:
            bw.code(*cl_codes[ln])
    return _vp8l_canonical_codes(lengths)


def _vp8l_prefix_encode(value: int):
    """(prefix_code, extra_bits_value, extra_bits_count) for an LZ77
    length/distance value — mirror of _vp8l_prefix_value."""
    if value <= 4:
        return value - 1, 0, 0
    v = value - 1
    eb = v.bit_length() - 2
    offset = (2 + ((v >> eb) & 1)) << eb
    return 2 * eb + ((v >> eb) & 1) + 2, v - offset, eb


def _vp8l_dist_to_code(dist: int, w: int) -> int:
    """Distance → dist_code, preferring the 2-D plane map (mirror of
    the decoder's PlaneCodeToDistance)."""
    y, x = divmod(dist, w)
    if x <= 8 and y < 8:
        v = _VP8L_PLANE_LUT[y * 16 + 8 - x]
        if v != 255:
            return v + 1
    if x > w - 8 and y < 7:
        v = _VP8L_PLANE_LUT[(y + 1) * 16 + 8 + (w - x)]
        if v != 255:
            return v + 1
    return dist + 120


def encode_webp_lossless(
    pixels,
    subtract_green: bool = False,
    predictor: int | None = None,
    color_transform=None,
    palette: bool = False,
    cache_bits: int = 0,
    lz77: bool = False,
    meta_tiling: bool = False,
) -> bytes:
    """Encode an (H, W, 3) RGB or (H, W, 4) RGBA uint8 array as a
    lossless WebP — the write side of the VP8L kernel, so every decoder
    path (canonical prefix codes, color cache, LZ77 with the distance
    plane map, all four transforms incl. all 14 predictor modes and
    sub-byte palette bundling) is property-testable without libwebp.
    Transforms apply in argument order (the decoder inverts them in
    reverse bitstream order, so round-trips by construction);
    ``palette`` is exclusive of the pixel-space transforms."""
    import struct as _struct

    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    h, w = arr.shape[:2]
    if not (1 <= w <= 1 << 14 and 1 <= h <= 1 << 14):
        # the 14-bit w-1/h-1 header fields would silently wrap BOTH a
        # zero (-1 -> 16383) and an oversized dimension into a
        # valid-looking but corrupt file
        raise ValueError(
            f"VP8L dimensions must be 1..16384 (got {w}x{h})"
        )
    if not 0 <= cache_bits <= 11:
        raise ValueError(
            f"cache_bits must be 0 (off) or 1-11, got {cache_bits}"
        )
    has_alpha = arr.shape[2] == 4
    a = arr[:, :, 3].astype(np.uint32) if has_alpha else np.full(
        (h, w), 255, np.uint32
    )
    argb = (
        (a << 24)
        | (arr[:, :, 0].astype(np.uint32) << 16)
        | (arr[:, :, 1].astype(np.uint32) << 8)
        | arr[:, :, 2].astype(np.uint32)
    )
    flat = argb.reshape(-1).tolist()

    bw = _Vp8lBitWriter()
    bw.bits(w - 1, 14)
    bw.bits(h - 1, 14)
    bw.bits(1 if has_alpha else 0, 1)
    bw.bits(0, 3)  # version

    enc_w = w
    if palette:
        if subtract_green or predictor is not None or color_transform:
            raise ValueError("palette is exclusive of other transforms")
        order = []
        seen = set()
        for p in flat:
            if p not in seen:
                seen.add(p)
                order.append(p)
        if len(order) > 256:
            raise ValueError("more than 256 colors — palette impossible")
        lut = {p: i for i, p in enumerate(order)}
        n_colors = len(order)
        bw.bits(1, 1)
        bw.bits(3, 2)  # COLOR_INDEXING
        bw.bits(n_colors - 1, 8)
        deltas = []
        prev = 0
        for p in order:
            deltas.append(
                (((p >> 24) - (prev >> 24)) & 0xFF) << 24
                | (((p >> 16) - (prev >> 16)) & 0xFF) << 16
                | (((p >> 8) - (prev >> 8)) & 0xFF) << 8
                | ((p - prev) & 0xFF)
            )
            prev = p
        _vp8l_write_stream(bw, deltas, n_colors, 1)
        if n_colors <= 2:
            pack_bits = 3
        elif n_colors <= 4:
            pack_bits = 2
        elif n_colors <= 16:
            pack_bits = 1
        else:
            pack_bits = 0
        idx = [lut[p] for p in flat]
        if pack_bits:
            per = 1 << pack_bits
            field = 8 >> pack_bits
            enc_w = _vp8l_subsample(w, pack_bits)
            packed = []
            for y in range(h):
                row = idx[y * w : (y + 1) * w]
                for xp in range(enc_w):
                    g = 0
                    for k in range(per):
                        xi = xp * per + k
                        if xi < w:
                            g |= row[xi] << (k * field)
                    packed.append(0xFF000000 | (g << 8))
            flat = packed
        else:
            flat = [0xFF000000 | (i << 8) for i in idx]
    else:
        for step in (
            ("sg",) if subtract_green else ()
        ) + (
            (("pred", predictor),) if predictor is not None else ()
        ) + (
            (("cc", color_transform),) if color_transform else ()
        ):
            if step == "sg":
                bw.bits(1, 1)
                bw.bits(2, 2)  # SUBTRACT_GREEN
                flat = [
                    (p & 0xFF00FF00)
                    | ((((p >> 16) - (p >> 8)) & 0xFF) << 16)
                    | ((p - (p >> 8)) & 0xFF)
                    for p in flat
                ]
            elif step[0] == "pred":
                mode = step[1]
                bw.bits(1, 1)
                bw.bits(0, 2)  # PREDICTOR
                wbits = 9  # max tile (512 px); the mode image is
                # constant, so multi-tile images just repeat the entry
                bw.bits(wbits - 2, 3)
                tw = _vp8l_subsample(w, wbits)
                th = _vp8l_subsample(h, wbits)
                timg = [0xFF000000 | (mode << 8)] * (tw * th)
                _vp8l_write_stream(bw, timg, tw, th)
                res = [0] * len(flat)
                for pos, p in enumerate(flat):
                    x = pos % w
                    y = pos // w
                    if pos == 0:
                        pred = 0xFF000000
                    elif y == 0:
                        pred = flat[pos - 1]
                    elif x == 0:
                        pred = flat[pos - w]
                    else:
                        pred = _vp8l_predict(
                            mode,
                            flat[pos - 1],
                            flat[pos - w],
                            flat[pos - w - 1],
                            flat[pos - w + 1],
                        )
                    res[pos] = (
                        (((p >> 24) - (pred >> 24)) & 0xFF) << 24
                        | (((p >> 16) - (pred >> 16)) & 0xFF) << 16
                        | (((p >> 8) - (pred >> 8)) & 0xFF) << 8
                        | ((p - pred) & 0xFF)
                    )
                flat = res
            else:
                g2r, g2b, r2b = step[1]
                bw.bits(1, 1)
                bw.bits(1, 2)  # COLOR (cross-color)
                wbits = 9  # max tile; constant cte repeats per tile
                bw.bits(wbits - 2, 3)
                tw = _vp8l_subsample(w, wbits)
                th = _vp8l_subsample(h, wbits)
                cte = (
                    0xFF000000
                    | ((r2b & 0xFF) << 16)
                    | ((g2b & 0xFF) << 8)
                    | (g2r & 0xFF)
                )
                _vp8l_write_stream(bw, [cte] * (tw * th), tw, th)
                out = [0] * len(flat)
                for pos, p in enumerate(flat):
                    g = (p >> 8) & 0xFF
                    r = (p >> 16) & 0xFF
                    b = p & 0xFF
                    nr = (r - _ctd(g2r & 0xFF, g)) & 0xFF
                    nb = (b - _ctd(g2b & 0xFF, g) - _ctd(r2b & 0xFF, r)) & 0xFF
                    out[pos] = (p & 0xFF00FF00) | (nr << 16) | nb
                flat = out
    bw.bits(0, 1)  # end of the transform list
    _vp8l_write_stream(
        bw, flat, enc_w, h, cache_bits=cache_bits, lz77=lz77, level0=True,
        meta_tiling=meta_tiling,
    )
    body = b"\x2f" + bw.bytes()
    chunk = b"VP8L" + _struct.pack("<I", len(body)) + body
    if len(body) & 1:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    return b"RIFF" + _struct.pack("<I", len(riff)) + riff


def _vp8l_write_stream(
    bw, flat, w, h, cache_bits: int = 0, lz77=False, level0=False,
    meta_tiling=False,
):
    """Entropy-code one image stream: optional color cache, optional
    LZ77 over horizontal (dist 1) AND vertical (dist = width) runs —
    both through the 2-D distance plane map — and optionally a real
    meta prefix-code tiling (a 16-px-tile meta image selecting the one
    group everywhere), so the decoder's meta recursion is covered by
    round-trips, not just read in code. Only the level-0 (ARGB) stream
    carries the meta-prefix bit — sub-images (palette/transform) skip
    it, matching the decoder."""
    if cache_bits:
        bw.bits(1, 1)
        bw.bits(cache_bits, 4)
    else:
        bw.bits(0, 1)
    if level0:
        if meta_tiling:
            bw.bits(1, 1)
            bw.bits(2, 3)  # huffman_bits = 4 -> 16-px tiles
            tw = _vp8l_subsample(w, 4)
            th = _vp8l_subsample(h, 4)
            # every tile selects group 0: meta index = (r << 8) | g = 0
            _vp8l_write_stream(bw, [0xFF000000] * (tw * th), tw, th)
        else:
            bw.bits(0, 1)  # no meta prefix codes
    cache = [0] * (1 << cache_bits) if cache_bits else None
    shift = 32 - cache_bits if cache_bits else 0
    green_size = 256 + 24 + ((1 << cache_bits) if cache_bits else 0)
    # tokenization pass (shared by the frequency count and the emit)
    tokens = []
    pos = 0
    n = len(flat)
    while pos < n:
        if lz77 and pos > 0:
            run = 0
            while pos + run < n and flat[pos + run] == flat[pos - 1] and run < 4000:
                run += 1
            if run >= 3:
                tokens.append(("ref", run, 1))
                if cache is not None:
                    v = flat[pos - 1]
                    cache[((0x1E35A7BD * v) & 0xFFFFFFFF) >> shift] = v
                pos += run
                continue
            # vertical run: each pixel repeats the one directly above
            # (dist = width -> plane code 1, the map's hottest entry);
            # copied pixels may differ from each other, so the cache
            # must replay every one of them, exactly as the decoder does
            vrun = 0
            while (
                pos + vrun < n
                and pos + vrun >= w
                and flat[pos + vrun] == flat[pos + vrun - w]
                and vrun < 4000
            ):
                vrun += 1
            if vrun >= 3:
                tokens.append(("ref", vrun, w))
                if cache is not None:
                    for k in range(vrun):
                        v = flat[pos + k]
                        cache[((0x1E35A7BD * v) & 0xFFFFFFFF) >> shift] = v
                pos += vrun
                continue
        p = flat[pos]
        if cache is not None:
            idx = ((0x1E35A7BD * p) & 0xFFFFFFFF) >> shift
            if cache[idx] == p:
                tokens.append(("hit", idx, None))
                pos += 1
                continue
            cache[idx] = p
        tokens.append(("lit", p, None))
        pos += 1
    gf = [0] * green_size
    rf = [0] * 256
    bf = [0] * 256
    af = [0] * 256
    df = [0] * 40
    for kind, x, d in tokens:
        if kind == "lit":
            gf[(x >> 8) & 0xFF] += 1
            rf[(x >> 16) & 0xFF] += 1
            bf[x & 0xFF] += 1
            af[(x >> 24) & 0xFF] += 1
        elif kind == "hit":
            gf[256 + 24 + x] += 1
        else:
            code, _, _ = _vp8l_prefix_encode(x)
            gf[256 + code] += 1
            dcode, _, _ = _vp8l_prefix_encode(_vp8l_dist_to_code(d, w))
            df[dcode] += 1
    for freq in (rf, bf, af, df):
        if not any(freq):
            freq[0] = 1  # unused tree: 1-symbol simple code
    if not any(gf):
        gf[0] = 1
    g_c = _vp8l_write_code(bw, _vp8l_huffman_lengths(gf))
    r_c = _vp8l_write_code(bw, _vp8l_huffman_lengths(rf))
    b_c = _vp8l_write_code(bw, _vp8l_huffman_lengths(bf))
    a_c = _vp8l_write_code(bw, _vp8l_huffman_lengths(af))
    d_c = _vp8l_write_code(bw, _vp8l_huffman_lengths(df))
    for kind, x, d in tokens:
        if kind == "lit":
            bw.code(*g_c[(x >> 8) & 0xFF])
            bw.code(*r_c[(x >> 16) & 0xFF])
            bw.code(*b_c[x & 0xFF])
            bw.code(*a_c[(x >> 24) & 0xFF])
        elif kind == "hit":
            bw.code(*g_c[256 + 24 + x])
        else:
            code, extra, eb = _vp8l_prefix_encode(x)
            bw.code(*g_c[256 + code])
            bw.bits(extra, eb)
            dcode, dextra, deb = _vp8l_prefix_encode(
                _vp8l_dist_to_code(d, w)
            )
            bw.code(*d_c[dcode])
            bw.bits(dextra, deb)


def encode_avi_mjpeg(frames, fps: int = 10) -> bytes:
    """Encode a list of same-shape (H, W, 3) uint8 arrays as an MJPEG AVI
    (each frame a baseline JPEG '00dc' chunk, conformant hdrl/movi/idx1
    layout) — the write side of the video kernel, so the container codec
    is property-testable without ffmpeg."""
    import struct

    import numpy as np

    if not frames:
        raise ValueError("need at least one frame")
    px = [np.asarray(f, dtype=np.uint8) for f in frames]
    h, w = px[0].shape[:2]
    if any(p.shape != px[0].shape for p in px):
        raise ValueError("all frames must share one shape")
    blobs = [encode_jpeg_baseline(p) for p in px]

    def chunk(fourcc: bytes, body: bytes) -> bytes:
        return fourcc + struct.pack("<I", len(body)) + body + (
            b"\x00" if len(body) & 1 else b""
        )

    def lst(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    max_bytes = max(len(b) for b in blobs)
    avih = struct.pack(
        "<14I",
        1_000_000 // fps,  # microseconds per frame
        max_bytes * fps,   # max bytes per second
        0, 0x10,           # padding, flags (AVIF_HASINDEX)
        len(blobs), 0, 1, max_bytes, w, h, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG"
        + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, fps, 0, len(blobs),
                      max_bytes, 0, 0)
        + struct.pack("<4H", 0, 0, w, h)
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, struct.unpack("<I", b"MJPG")[0],
        w * h * 3, 0, 0, 0, 0
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi_body = b"movi"
    offsets = []
    for b in blobs:
        offsets.append(len(movi_body))
        movi_body += chunk(b"00dc", b)
    movi = chunk(b"LIST", movi_body)
    idx1 = chunk(
        b"idx1",
        b"".join(
            b"00dc" + struct.pack("<III", 0x10, off, len(b))
            for off, b in zip(offsets, blobs)
        ),
    )
    riff_body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def encode_wav(samples, sample_rate: int = 16000) -> bytes:
    """Encode an (n,) or (n, channels) int16 array as a PCM WAV blob."""
    import struct

    import numpy as np

    arr = np.asarray(samples, dtype=np.int16)
    if arr.ndim == 1:
        arr = arr[:, None]
    n_ch = arr.shape[1]
    data = np.ascontiguousarray(arr).tobytes()
    byte_rate = sample_rate * n_ch * 2
    hdr = b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
    fmt = b"fmt " + struct.pack(
        "<IHHIIHH", 16, 1, n_ch, sample_rate, byte_rate, n_ch * 2, 16
    )
    return hdr + fmt + b"data" + struct.pack("<I", len(data)) + data
