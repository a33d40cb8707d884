"""Baseline JPEG (ITU-T T.81 / JFIF) codec in pure numpy + stdlib.

Closes the `_decode_external` seam in multimodal.py for the dominant
real-world image format: a from-scratch baseline sequential DCT codec —
huffman entropy coding, zigzag + quantization, 8x8 DCT/IDCT (one
einsum over all blocks), YCbCr color transform, 4:4:4 and 4:2:0
chroma sampling, restart markers, byte stuffing.

Spec constants (Annex K quantization tables, the standard huffman BITS/
HUFFVAL sets, the zigzag order) are public ITU-T T.81 values.  The
encoder writes its DQT/DHT tables into the stream, so files are fully
self-describing: the decoder — this one or any external baseline
decoder — reads the tables from the file, never from shared state.

Decode correctness is anchored three ways in tests: (1) analytically —
constant-color blocks whose DC coefficient is exactly representable
under quantization decode bit-exact; (2) round-trip PSNR bounds on
gradients and noise; (3) structural — byte stuffing, restart markers,
grayscale, and 4:2:0 paths each exercised.

Entropy decode ships two vectorized paths (round 5): a lockstep numpy
state machine advancing every restart-interval segment in parallel,
and a 64Ki-entry lookup-table decoder consuming 16 bits per step; the
original per-symbol Python walk is retained only as the A/B reference
implementation.  Everything after entropy decode — dequantize, zigzag
scatter, IDCT, upsample, color transform — is vectorized over all
blocks at once.  At corpus scale the parallelism axis is rows (one
image per row through mapInPandas), not pixels, so the per-image
decode cost parallelizes embarrassingly.
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------- tables ---

# zigzag order: position i of the scan -> raster index in the 8x8 block
ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)

QUANT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)

# standard huffman tables: (BITS[1..16] code-length counts, HUFFVAL)
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))

AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
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
]
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROMA_VALS = [
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
]

# orthonormal 8x8 DCT-II matrix: F = A @ f @ A.T, f = A.T @ F @ A
_A = np.zeros((8, 8))
for _k in range(8):
    _c = (1 / np.sqrt(2)) if _k == 0 else 1.0
    for _n in range(8):
        _A[_k, _n] = 0.5 * _c * np.cos((2 * _n + 1) * _k * np.pi / 16)
DCT_MAT = _A


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per the canonical T.81 construction."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    vi = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[vi]] = (code, ln)
            code += 1
            vi += 1
        code <<= 1
    return out


def _decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol."""
    return {(ln, c): s for s, (c, ln) in _canonical_codes(bits, vals).items()}


def scale_quant(table: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling, clamped to [1, 255]."""
    quality = max(1, min(100, int(quality)))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((table * scale + 50) // 100, 1, 255).astype(np.int64)


# --------------------------------------------------------------- encoder ---


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)  # byte stuffing

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec
        return bytes(self.buf)


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


def _amplitude(v: int, size: int) -> int:
    return v if v >= 0 else v + (1 << size) - 1


def _forward_blocks(plane: np.ndarray, quant: np.ndarray) -> np.ndarray:
    """plane (H, W) level-shifted -> quantized zigzag coeffs (nb, 64).
    Blocks are raster MCU order for 1x1 sampling of this plane."""
    h, w = plane.shape
    bh, bw = h // 8, w // 8
    blocks = plane.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    f = blocks.astype(np.float64) - 128.0
    coeffs = np.einsum("ij,njk,lk->nil", DCT_MAT, f, DCT_MAT)
    q = np.round(coeffs / quant.reshape(8, 8)).astype(np.int64)
    return q.reshape(-1, 64)[:, ZIGZAG]


def _encode_plane_blocks(
    writer: _BitWriter,
    zz: np.ndarray,
    order: list[int],
    dc_codes: dict[int, tuple[int, int]],
    ac_codes: dict[int, tuple[int, int]],
    pred: int,
) -> int:
    """Entropy-code the given blocks (in `order`) of one component."""
    for bi in order:
        row = zz[bi]
        diff = int(row[0]) - pred
        pred = int(row[0])
        size = _category(diff)
        code, ln = dc_codes[size]
        writer.write(code, ln)
        if size:
            writer.write(_amplitude(diff, size), size)
        nz = np.flatnonzero(row[1:]) + 1
        prev = 0
        for idx in nz:
            run = int(idx) - prev - 1
            while run >= 16:
                zc, zl = ac_codes[0xF0]
                writer.write(zc, zl)
                run -= 16
            v = int(row[idx])
            size = _category(v)
            code, ln = ac_codes[(run << 4) | size]
            writer.write(code, ln)
            writer.write(_amplitude(v, size), size)
            prev = int(idx)
        if prev != 63:
            ec, el = ac_codes[0x00]
            writer.write(ec, el)
    return pred


def _seg(marker: int, payload: bytes) -> bytes:
    return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload


def _dht_payload(tc: int, th: int, bits: list[int], vals: list[int]) -> bytes:
    return bytes([tc << 4 | th]) + bytes(bits) + bytes(vals)


def encode_jpeg(
    pixels: np.ndarray,
    quality: int = 75,
    subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """Encode (H, W) grayscale or (H, W, 3) RGB uint8 to baseline JFIF.

    subsample=True emits 4:2:0 chroma (H and W must be multiples of 16);
    otherwise 4:4:4 (multiples of 8).  restart_interval > 0 emits a DRI
    segment and RST markers every that-many MCUs (the error-resilience
    feature real encoders use; also exercises the decoder's interval
    resync).  Standard tables at the given quality are written into the
    stream (DQT/DHT), so any baseline decoder reads this file.
    """
    px = np.asarray(pixels)
    gray = px.ndim == 2
    h, w = px.shape[:2]
    mcu = 16 if (subsample and not gray) else 8
    if h % mcu or w % mcu:
        raise ValueError(f"dimensions must be multiples of {mcu}")
    ql = scale_quant(QUANT_LUMA, quality)
    qc = scale_quant(QUANT_CHROMA, quality)

    if gray:
        planes = [px.astype(np.float64)]
    else:
        r = px[..., 0].astype(np.float64)
        g = px[..., 1].astype(np.float64)
        b = px[..., 2].astype(np.float64)
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if subsample:
            cb = cb.reshape(h // 2, 2, w // 2, 2).mean(axis=(1, 3))
            cr = cr.reshape(h // 2, 2, w // 2, 2).mean(axis=(1, 3))
        planes = [y, cb, cr]
    planes = [np.clip(np.round(p), 0, 255) for p in planes]

    zzs = [
        _forward_blocks(p, ql if i == 0 else qc) for i, p in enumerate(planes)
    ]

    dc_l = _canonical_codes(DC_LUMA_BITS, DC_LUMA_VALS)
    ac_l = _canonical_codes(AC_LUMA_BITS, AC_LUMA_VALS)
    dc_c = _canonical_codes(DC_CHROMA_BITS, DC_CHROMA_VALS)
    ac_c = _canonical_codes(AC_CHROMA_BITS, AC_CHROMA_VALS)

    writer = _BitWriter()
    preds = [0] * len(planes)
    scan_parts: list[bytes] = []
    rst_idx = 0
    mcus_x = w // mcu
    mcus_y = h // mcu
    n_mcus = mcus_x * mcus_y
    ybw = w // 8
    cbw = w // (16 if subsample and not gray else 8)
    for mi in range(n_mcus):
        my, mx = divmod(mi, mcus_x)
        if gray:
            yb = [my * ybw + mx]
        elif subsample:
            yb = [
                (my * 2 + dy) * ybw + mx * 2 + dx for dy in range(2) for dx in range(2)
            ]
        else:
            yb = [my * ybw + mx]
        preds[0] = _encode_plane_blocks(writer, zzs[0], yb, dc_l, ac_l, preds[0])
        if not gray:
            ci = my * cbw + mx
            preds[1] = _encode_plane_blocks(writer, zzs[1], [ci], dc_c, ac_c, preds[1])
            preds[2] = _encode_plane_blocks(writer, zzs[2], [ci], dc_c, ac_c, preds[2])
        if (
            restart_interval
            and (mi + 1) % restart_interval == 0
            and mi + 1 < n_mcus
        ):
            scan_parts.append(writer.flush())
            scan_parts.append(bytes([0xFF, 0xD0 + (rst_idx % 8)]))
            rst_idx += 1
            writer = _BitWriter()
            preds = [0] * len(planes)
    scan_parts.append(writer.flush())
    scan = b"".join(scan_parts)

    out = bytearray(b"\xff\xd8")  # SOI
    out += _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")  # APP0
    out += _seg(0xDB, bytes([0x00]) + bytes(ql[ZIGZAG].tolist()))
    if not gray:
        out += _seg(0xDB, bytes([0x01]) + bytes(qc[ZIGZAG].tolist()))
    ncomp = 1 if gray else 3
    sof = bytearray([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([ncomp])
    samp_y = 0x22 if (subsample and not gray) else 0x11
    sof += bytes([1, samp_y, 0])
    if not gray:
        sof += bytes([2, 0x11, 1]) + bytes([3, 0x11, 1])
    out += _seg(0xC0, bytes(sof))  # SOF0 baseline
    out += _seg(0xC4, _dht_payload(0, 0, DC_LUMA_BITS, DC_LUMA_VALS))
    out += _seg(0xC4, _dht_payload(1, 0, AC_LUMA_BITS, AC_LUMA_VALS))
    if not gray:
        out += _seg(0xC4, _dht_payload(0, 1, DC_CHROMA_BITS, DC_CHROMA_VALS))
        out += _seg(0xC4, _dht_payload(1, 1, AC_CHROMA_BITS, AC_CHROMA_VALS))
    if restart_interval:
        out += _seg(0xDD, restart_interval.to_bytes(2, "big"))
    sos = bytearray([ncomp, 1, 0x00])
    if not gray:
        sos += bytes([2, 0x11, 3, 0x11])
    sos += bytes([0, 63, 0])
    out += _seg(0xDA, bytes(sos))
    out += scan
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# --------------------------------------------------------------- decoder ---


def _parse_segments(data: bytes):
    """Yield (marker, payload) up to SOS; return (state, scan_offset)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    i = 2
    while i < len(data):
        if data[i] != 0xFF:
            raise ValueError(f"expected marker at {i}")
        marker = data[i + 1]
        if marker == 0xD9:
            return
        ln = int.from_bytes(data[i + 2 : i + 4], "big")
        payload = data[i + 4 : i + 2 + ln]
        yield marker, payload, i + 2 + ln
        if marker == 0xDA:
            return
        i += 2 + ln


def _huff_lut(table: dict[tuple[int, int], int]) -> tuple[list[int], list[int]]:
    """(symbol, code_length) lookup over every 16-bit window prefix.

    Canonical huffman codes are <= 16 bits, so a 64Ki-entry table maps
    ANY 16 lookahead bits to the symbol they start with in O(1) — the
    table-driven replacement for walking the code bit by bit.  Unused
    prefixes carry symbol -1 (invalid code -> ValueError at decode).
    Returned as plain lists: python-int indexing into lists is ~3x
    faster than numpy scalar indexing in hot loops.  Cached by table
    content (same rationale as _np_lut: corpora reuse tables)."""
    key = ("seq", tuple(sorted(table.items())))
    got = _NP_LUT_CACHE.get(key)
    if got is not None:
        return got
    sym = np.full(65536, -1, dtype=np.int32)
    ln = np.zeros(65536, dtype=np.int32)
    for (bits, code), s in table.items():
        shift = 16 - bits
        start = code << shift
        sym[start : start + (1 << shift)] = s
        ln[start : start + (1 << shift)] = bits
    out = (sym.tolist(), ln.tolist())
    _NP_LUT_CACHE[key] = out
    return out


def _entropy_decode_fast(
    intervals, comps, dc_tables, ac_tables, per_int, n_mcus, mcus_x
) -> None:
    """Table-driven entropy decode: one 64Ki LUT probe per symbol over
    a precomputed 48-bit sliding window, instead of bit-at-a-time code
    walking (measured >=10x the reference's MB/s; BASELINE.md "JPEG
    entropy decode" table).  Produces bit-identical coefficients — the
    tests A/B every stream shape against a per-symbol reference decoder
    (tests/test_jpeg.py).

    The huffman stream itself is inherently sequential (a symbol's
    position is only known after decoding its predecessor), so the
    speedup here is a constant-factor one: O(1) window extraction
    (precomputed numpy sliding window, list-indexed) + O(1) symbol
    lookup + O(1) value-bit extraction from the same 32-bit window
    (code <= 16 bits + value <= 11 bits <= 32).  Restart intervals
    remain the embarrassing-parallel axis ACROSS images (row
    parallelism in mapInPandas); within one image they share these
    LUTs."""
    luts = {(0, th): _huff_lut(t) for th, t in dc_tables.items()}
    luts.update({(1, th): _huff_lut(t) for th, t in ac_tables.items()})
    store: dict[int, list[list[int]]] = {
        c["id"]: [[0] * 64 for _ in range(c["bh"] * c["bw"])] for c in comps
    }
    mi = 0
    for interval in intervals:
        nbits = 8 * len(interval)
        padded = np.frombuffer(
            bytes(interval) + b"\x00" * 8, dtype=np.uint8
        ).astype(np.int64)
        n = len(padded) - 5
        w48 = padded[0:n] << 40
        for j in range(1, 6):
            w48 |= padded[j : j + n] << (8 * (5 - j))
        wins = w48.tolist()  # wins[byte] = 48 stream bits from that byte
        preds = {c["id"]: 0 for c in comps}
        bitpos = 0
        for _ in range(min(per_int, n_mcus - mi)):
            my, mx = divmod(mi, mcus_x)
            for c in comps:
                dsym, dlen = luts[(0, c["td"])]
                asym, alen = luts[(1, c["ta"])]
                cid, cv, ch, bw = c["id"], c["v"], c["h"], c["bw"]
                rows = store[cid]
                pred = preds[cid]
                for dy in range(cv):
                    for dx in range(ch):
                        row = rows[(my * cv + dy) * bw + mx * ch + dx]
                        w32 = (wins[bitpos >> 3] >> (16 - (bitpos & 7))) & 0xFFFFFFFF
                        t16 = w32 >> 16
                        s = dsym[t16]
                        ln = dlen[t16]
                        if s < 0:
                            raise ValueError("invalid huffman code in scan")
                        if s:
                            v = (w32 >> (32 - ln - s)) & ((1 << s) - 1)
                            pred += v if v >= (1 << (s - 1)) else v - (1 << s) + 1
                        row[0] = pred
                        bitpos += ln + s
                        k = 1
                        while k < 64:
                            w32 = (
                                wins[bitpos >> 3] >> (16 - (bitpos & 7))
                            ) & 0xFFFFFFFF
                            t16 = w32 >> 16
                            rs = asym[t16]
                            ln = alen[t16]
                            if rs < 0:
                                raise ValueError("invalid huffman code in scan")
                            if rs == 0:  # EOB
                                bitpos += ln
                                break
                            if rs == 0xF0:  # ZRL
                                bitpos += ln
                                k += 16
                                continue
                            size = rs & 0xF
                            k += rs >> 4
                            v = (w32 >> (32 - ln - size)) & ((1 << size) - 1)
                            row[k] = (
                                v if v >= (1 << (size - 1)) else v - (1 << size) + 1
                            )
                            bitpos += ln + size
                            k += 1
                preds[cid] = pred
            mi += 1
            if bitpos > nbits:
                raise ValueError("truncated scan")
    for c in comps:
        c["zz"] = np.array(store[c["id"]], dtype=np.int64)


_NP_LUT_CACHE: dict[tuple, np.ndarray] = {}


def _np_lut(table: dict[tuple[int, int], int]) -> np.ndarray:
    """Combined (length << 8 | symbol) LUT as ONE int64 numpy array —
    a single gather per step fetches both fields (fancy-indexed
    gathers dominate the lockstep loop, so one beats two).  Unused
    prefixes are 0 (length 0 <=> invalid code).  Cached by table
    content: real corpora overwhelmingly reuse the standard Annex-K
    huffman tables, so the 64Ki build runs once per table, not once
    per image."""
    key = tuple(sorted(table.items()))
    got = _NP_LUT_CACHE.get(key)
    if got is not None:
        return got
    lut = np.zeros(65536, dtype=np.int64)
    for (bits, code), s in table.items():
        shift = 16 - bits
        start = code << shift
        lut[start : start + (1 << shift)] = (bits << 8) | s
    if len(_NP_LUT_CACHE) > 64:  # bound the cache (corpus-stable tables)
        _NP_LUT_CACHE.clear()
    _NP_LUT_CACHE[key] = lut
    return lut


def _entropy_decode_lockstep(
    intervals, comps, dc_tables, ac_tables, per_int, n_mcus, mcus_x
) -> None:
    """Vectorized entropy decode ACROSS restart intervals.

    A huffman stream is sequential WITHIN an interval (a symbol's
    position is known only after its predecessor decodes), but restart
    markers reset the predictor and byte-align the stream, making every
    interval independent by construction — so all N intervals decode
    in lockstep as one numpy state machine: each step gathers a 32-bit
    window per interval (precomputed 48-bit sliding windows over one
    flat buffer), probes the 64Ki symbol LUT for all lanes at once,
    and scatters coefficients with fancy indexing.  Per-lane state is
    just (bitpos, DC predictor, in-block position k, alive mask); the
    (mcu, component, block) iteration order is IDENTICAL across lanes,
    so it stays a cheap python structure loop around width-N vector
    steps.  Produces bit-identical coefficients vs the per-symbol
    reference (A/B-pinned in tests); measured MB/s in BASELINE.md.
    """
    N = len(intervals)
    lens = np.array([len(iv) for iv in intervals], dtype=np.int64)
    pad = 8  # > window width, so a gather never crosses into the next lane
    offs = np.concatenate(([0], np.cumsum(lens + pad)))[:-1]
    zeros = b"\x00" * pad
    buf = np.frombuffer(b"".join(iv + zeros for iv in intervals), np.uint8)
    b64 = buf.astype(np.int64)
    n = len(b64) - 5
    w48 = b64[0:n] << 40
    for j in range(1, 6):
        w48 |= b64[j : j + n] << (8 * (5 - j))

    dcl = {th: _np_lut(t) for th, t in dc_tables.items()}
    acl = {th: _np_lut(t) for th, t in ac_tables.items()}
    one = np.int64(1)

    start_mcu = np.arange(N, dtype=np.int64) * per_int
    counts = np.minimum(per_int, np.maximum(n_mcus - start_mcu, 0))
    bitpos = np.zeros(N, dtype=np.int64)
    for c in comps:
        c["zz"] = np.zeros((c["bh"] * c["bw"], 64), dtype=np.int64)
    preds = {c["id"]: np.zeros(N, dtype=np.int64) for c in comps}

    def win32() -> np.ndarray:
        return (w48[offs + (bitpos >> 3)] >> (16 - (bitpos & 7))) & 0xFFFFFFFF

    for local in range(int(counts.max())):
        act0 = counts > local
        gm = start_mcu + local
        my, mx = gm // mcus_x, gm % mcus_x
        for c in comps:
            dlut = dcl[c["td"]]
            alut = acl[c["ta"]]
            pred = preds[c["id"]]
            zz, cv, ch, bw = c["zz"], c["v"], c["h"], c["bw"]
            for dy in range(cv):
                for dx in range(ch):
                    bi = (my * cv + dy) * bw + mx * ch + dx
                    w = win32()
                    t16 = w >> 16
                    packed = dlut[t16]
                    ln, s = packed >> 8, packed & 0xFF
                    if (act0 & (packed == 0)).any():
                        raise ValueError("invalid huffman code in scan")
                    v = (w >> (32 - ln - s)) & ((one << s) - 1)
                    diff = np.where(
                        s > 0,
                        np.where(
                            v >= (one << np.maximum(s - 1, 0)),
                            v,
                            v - (one << s) + 1,
                        ),
                        0,
                    )
                    pred[act0] += diff[act0]
                    zz[bi[act0], 0] = pred[act0]
                    bitpos[act0] += (ln + s)[act0]
                    # AC loop with lane COMPACTION: lanes leave the
                    # working set as they hit EOB, so late iterations
                    # (high k, few still-decoding lanes) cost width-
                    # proportional work instead of full-N masked ops.
                    # Low-nibble tricks: EOB (0x00) and ZRL (0xF0)
                    # both carry size 0, so size = rs & 15 needs no
                    # mask; ZRL's run nibble is 15, so k = k + run + 1
                    # IS the +16 skip — one unconditional k update
                    # covers value, ZRL, and (dead-anyway) EOB lanes.
                    lanes = np.flatnonzero(act0)
                    offsL = offs[lanes]
                    biL = bi[lanes]
                    k = np.ones(len(lanes), dtype=np.int64)
                    while len(lanes):
                        bp = bitpos[lanes]
                        w = (
                            w48[offsL + (bp >> 3)] >> (16 - (bp & 7))
                        ) & 0xFFFFFFFF
                        packed = alut[w >> 16]
                        if not packed.all():  # 0 <=> unused prefix
                            raise ValueError("invalid huffman code in scan")
                        rs = packed & 0xFF
                        size = rs & 0xF
                        bitpos[lanes] = bp + (packed >> 8) + size
                        kk = k + (rs >> 4)
                        hasv = size != 0
                        if hasv.any():
                            sh = size[hasv]
                            v = (w[hasv] >> (32 - (packed[hasv] >> 8) - sh)) & (
                                (one << sh) - 1
                            )
                            zz[biL[hasv], kk[hasv]] = np.where(
                                v >= (one << (sh - 1)),
                                v,
                                v - (one << sh) + 1,
                            )
                        k = kk + 1
                        keep2 = (rs != 0) & (k < 64)
                        if not keep2.all():
                            lanes = lanes[keep2]
                            offsL = offsL[keep2]
                            biL = biL[keep2]
                            k = k[keep2]
    if (bitpos > lens * 8).any():
        raise ValueError("truncated scan")


def decode_jpeg(data: bytes) -> np.ndarray:
    """Decode baseline sequential JPEG to uint8 pixels.

    Returns (H, W) for grayscale, (H, W, 3) RGB otherwise.  Supports
    SOF0, 8-bit samples, 1 or 3 components, sampling factors 1-2
    (4:4:4, 4:2:2, 4:2:0), restart intervals, byte stuffing.
    """
    quants: dict[int, np.ndarray] = {}
    dc_tables: dict[int, dict] = {}
    ac_tables: dict[int, dict] = {}
    frame = None
    scan_off = None
    scan_comps = None
    restart = 0
    for marker, payload, end in _parse_segments(data):
        if marker == 0xDB:
            p = 0
            while p < len(payload):
                pq, tq = payload[p] >> 4, payload[p] & 0xF
                if pq != 0:
                    raise ValueError("16-bit quant tables not baseline")
                tbl = np.zeros(64, dtype=np.int64)
                tbl[ZIGZAG] = np.frombuffer(payload[p + 1 : p + 65], dtype=np.uint8)
                quants[tq] = tbl
                p += 65
        elif marker == 0xC4:
            p = 0
            while p < len(payload):
                tc, th = payload[p] >> 4, payload[p] & 0xF
                bits = list(payload[p + 1 : p + 17])
                nv = sum(bits)
                vals = list(payload[p + 17 : p + 17 + nv])
                (ac_tables if tc else dc_tables)[th] = _decode_table(bits, vals)
                p += 17 + nv
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise ValueError(f"not baseline sequential (SOF{marker - 0xC0})")
        elif marker == 0xC0:
            prec = payload[0]
            if prec != 8:
                raise ValueError("only 8-bit precision supported")
            h = int.from_bytes(payload[1:3], "big")
            w = int.from_bytes(payload[3:5], "big")
            nc = payload[5]
            comps = []
            for c in range(nc):
                cid, hv, tq = payload[6 + 3 * c : 9 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq})
            frame = {"h": h, "w": w, "comps": comps}
        elif marker == 0xDD:
            restart = int.from_bytes(payload[:2], "big")
        elif marker == 0xDA:
            ns = payload[0]
            scan_comps = []
            for c in range(ns):
                cs, tt = payload[1 + 2 * c : 3 + 2 * c]
                scan_comps.append({"id": cs, "td": tt >> 4, "ta": tt & 0xF})
            scan_off = end
    if frame is None or scan_off is None:
        raise ValueError("missing SOF0/SOS")

    comps = frame["comps"]
    by_id = {c["id"]: c for c in comps}
    for sc in scan_comps:
        by_id[sc["id"]].update(td=sc["td"], ta=sc["ta"])
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    mcus_x = -(-frame["w"] // mcu_w)
    mcus_y = -(-frame["h"] // mcu_h)

    # split the entropy stream into restart intervals, destuffed —
    # all numpy (classify every 0xFF once, one boolean compaction),
    # no per-byte python
    tail_np = np.frombuffer(data[scan_off:], dtype=np.uint8)
    ffpos = np.flatnonzero(tail_np == 0xFF)
    safe = np.minimum(ffpos + 1, len(tail_np) - 1)
    nxt = np.where(ffpos + 1 < len(tail_np), tail_np[safe], 0xD9)
    stuffed = nxt == 0x00
    rst = (nxt >= 0xD0) & (nxt <= 0xD7)
    term = ~stuffed & ~rst  # EOI or next marker ends the scan
    end = int(ffpos[term][0]) if term.any() else len(tail_np)
    in_scan = ffpos < end
    keep = np.ones(end, dtype=bool)
    keep[ffpos[in_scan & stuffed] + 1] = False  # FF00 -> data FF
    rp = ffpos[in_scan & rst]
    keep[rp] = False  # RST pair drops entirely
    keep[rp + 1] = False
    prefix = np.concatenate(([0], np.cumsum(keep)))
    kept = tail_np[:end][keep]
    intervals: list[bytes] = [
        part.tobytes() for part in np.split(kept, prefix[rp])
    ]

    # per-component coefficient storage in MCU-raster block order
    for c in comps:
        c["bw"] = mcus_x * c["h"]
        c["bh"] = mcus_y * c["v"]
        c["zz"] = np.zeros((c["bh"] * c["bw"], 64), dtype=np.int64)

    n_mcus = mcus_x * mcus_y
    per_int = restart if restart else n_mcus
    if len(intervals) < 8:
        # too few restart intervals for lockstep width — table-driven
        # sequential decode (still ~2-3x the reference; a huffman
        # stream without restart markers has NO intra-stream
        # parallelism axis: symbol boundaries are data-dependent)
        decoder = _entropy_decode_fast
    else:
        decoder = _entropy_decode_lockstep
    decoder(intervals, comps, dc_tables, ac_tables, per_int, n_mcus, mcus_x)

    # vectorized tail: dequantize -> zigzag scatter -> IDCT -> stitch
    planes = []
    for c in comps:
        deq = c["zz"] * quants[c["tq"]][ZIGZAG]
        blocks = np.zeros((len(deq), 64), dtype=np.float64)
        blocks[:, ZIGZAG] = deq
        blocks = blocks.reshape(-1, 8, 8)
        # batched IDCT as two BLAS matmuls (same contraction as the
        # einsum 'ji,njk,kl->nil' but ~10x faster on thousands of
        # blocks: dgemm instead of naive index loops)
        pix = DCT_MAT.T @ blocks @ DCT_MAT + 128.0
        bh, bw = c["bh"], c["bw"]
        plane = (
            pix.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
        )
        # upsample to full MCU resolution, then crop to frame dims
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        planes.append(plane[: frame["h"], : frame["w"]])

    if len(planes) == 1:
        return np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)
