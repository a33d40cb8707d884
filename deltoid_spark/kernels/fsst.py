"""FSST-style symbol-table string compression (VLDB 2020, see PAPERS.md).

Engine-new kernel: the space-efficient string delta the reference never
implemented (the ``// TODO: Improve delta space efficiency`` at
/root/reference/deltoid/src/string.rs:37).  A per-block table of up to
255 byte symbols (length 1-8) replaces frequent substrings with 1-byte
codes; bytes outside the table are escaped as ``0xFF <literal>``.

Train: substring frequency counting over a bounded sample (gain =
(len-1) * freq), multi-byte symbols first, then frequent single bytes
to keep escapes rare.  Encode (round 4): one capturing TRIE-regex
split over the multi-byte symbols (prefix-factored alternation,
byte-identical to longest-first matching), then ALL gaps encode as one
concatenated buffer in a single vectorized pass and the output stream
assembles via one numpy scatter — zero per-gap / per-match loop
bodies.  Decode: fully vectorized variable-length gather (numpy),
escapes resolved via a split-walk.

Measured on the fixture's 0.5 MB path block (this host, round 4):
encode 11.1 MB/s (round 3: 0.7 on the same symbol-dense block — the
per-gap dispatch, not the regex, was the bound), decode 72 MB/s;
output bytes identical to round 3.  Remaining cost splits ~1/3
re.split, ~2/3 per-part length/code iteration; both scale linearly.
FSST is shortlisted only where it can win (avg_len <= 512, entropy
< 6.5, not hex, distinct_ratio > 0.05 — measured: DICT/RLE always
beat it on massively repetitive columns), and the selector's
two-point trial fit rejects it per-block elsewhere, so the kernel
cost lands only on blocks where FSST actually pays.
"""

from __future__ import annotations

import re

import numpy as np
import pyarrow as pa

from . import blocks
from .intcodec import pack_ints, unpack_ints
from .strings import _offsets, large_utf8_array, null_mask, utf8_view

ESCAPE = 0xFF
MAX_SYMBOLS = 255  # codes 0..254; 255 reserved for escape
MAX_LEN = 8
_SAMPLE_BYTES = 1 << 14


def train(data: bytes, max_symbols: int = MAX_SYMBOLS) -> list[bytes]:
    """Pick up to ``max_symbols`` symbols from a bounded sample.

    Counting is vectorized (numpy sliding windows packed into uint64
    keys + ``np.unique``) but reproduces the round-4 Python loop's
    Counter EXACTLY — same positions, same thinning step, same
    ``+= step`` scaling — so the symbol table, and therefore every
    encoded block, stays byte-identical (pinned by the golden-sha
    tests).  Train runs on every trial encode the selector requests,
    so its cost is a first-order term of the encode wall."""
    sample = data[:_SAMPLE_BYTES]
    n = len(sample)
    # gain = bytes saved; require a symbol to actually pay for itself.
    # Each window length has disjoint keys (different byte lengths), so
    # per-length np.unique IS the full count — no cross-length merge.
    multi: list[tuple[bytes, int]] = []
    if n >= 2:
        arr = np.frombuffer(sample, dtype=np.uint8)
        for ln in range(2, min(MAX_LEN, n) + 1):
            step = 1 if ln <= 3 else ln - 2  # thin out long-substring scan
            win = np.lib.stride_tricks.sliding_window_view(arr, ln)[::step]
            # pack each window into a big-endian uint64 key: order and
            # uniqueness match the bytes slices exactly (ln <= 8)
            mults = (256 ** np.arange(ln - 1, -1, -1)).astype(np.uint64)
            keys = (win.astype(np.uint64) * mults).sum(axis=1)
            uniq, cnt = np.unique(keys, return_counts=True)
            gain = (ln - 1) * cnt * step
            keep = gain >= ln + 2  # vectorized pay-for-itself filter
            be = uniq[keep].astype(">u8").tobytes()
            multi.extend(
                (be[j * 8 + 8 - ln : j * 8 + 8], int(g))
                for j, g in enumerate(gain[keep].tolist())
            )
    multi.sort(key=lambda x: (-x[1], x[0]))  # deterministic tie-break
    symbols: list[bytes] = []
    taken: set[bytes] = set()
    for s, _ in multi:
        if len(symbols) >= max_symbols - 64:  # reserve slots for single bytes
            break
        if s not in taken:
            symbols.append(s)
            taken.add(s)
    single_counts = np.bincount(
        np.frombuffer(sample, dtype=np.uint8), minlength=256
    )
    for b in np.lexsort((np.arange(256), -single_counts)).tolist():
        if len(symbols) >= max_symbols:
            break
        if single_counts[b] == 0:
            continue
        sb = bytes([b])
        if sb not in taken:
            symbols.append(sb)
            taken.add(sb)
    return symbols


def _escape_gap(gap: bytes) -> bytes:
    """Interleave the escape byte before every literal (vectorized)."""
    if not gap:
        return b""
    arr = np.frombuffer(gap, dtype=np.uint8)
    out = np.empty(2 * len(arr), dtype=np.uint8)
    out[0::2] = ESCAPE
    out[1::2] = arr
    return out.tobytes()


def _single_luts(symbols: list[bytes]) -> tuple[bytes, np.ndarray, np.ndarray]:
    """(translate table, code array, known mask) for 1-byte symbols."""
    lut = np.zeros(256, dtype=np.uint8)
    known = np.zeros(256, dtype=bool)
    for i, s in enumerate(symbols):
        if len(s) == 1:
            lut[s[0]] = i
            known[s[0]] = True
    return lut.tobytes(), lut, known


def _trie_pattern(symbols: list[bytes]) -> re.Pattern:
    """Trie-structured alternation over the multi-byte symbols.

    Python's re tries alternatives left to right with no prefix
    factoring, so a flat longest-first alternation re-compares shared
    prefixes at every position.  The trie factors them once; ordering
    child branches before each node's end-marker ``?`` preserves
    longest-match preference, so the split is byte-identical to the
    flat pattern (~3x faster on symbol-dense data)."""
    trie: dict = {}
    for s in symbols:
        node = trie
        for b in s:
            node = node.setdefault(b, {})
        node[None] = True
    def emit(node: dict) -> bytes:
        alts = [
            re.escape(bytes([b])) + emit(child)
            for b, child in sorted((k, v) for k, v in node.items() if k is not None)
        ]
        if not alts:
            return b""
        body = b"|".join(alts)
        end = None in node
        if len(alts) > 1 or end:
            body = b"(?:" + body + b")"
        if end:
            body += b"?"  # extensions first -> greedy longest match
        return body
    return re.compile(b"(" + emit(trie) + b")")


def _encode_bytes_flat(
    buf: bytes, tbl: bytes, lut: np.ndarray, known: np.ndarray
) -> tuple[np.ndarray, np.ndarray | None]:
    """Encode a byte run against the single-byte table in ONE pass.

    Returns (encoded uint8 array, per-input-byte output widths or None
    when every byte is a known single — the trained common case, which
    collapses to one ``bytes.translate``)."""
    arr = np.frombuffer(buf, dtype=np.uint8)
    k = known[arr] if len(arr) else np.zeros(0, dtype=bool)
    if k.all():
        return np.frombuffer(buf.translate(tbl), dtype=np.uint8), None
    widths = np.where(k, np.int64(1), np.int64(2))
    starts = np.cumsum(widths) - widths
    out = np.empty(int(widths.sum()), dtype=np.uint8)
    out[starts[k]] = lut[arr[k]]
    nk = ~k
    out[starts[nk]] = ESCAPE
    out[starts[nk] + 1] = arr[nk]
    return out, widths


def compress_bytes(data: bytes, symbols: list[bytes]) -> bytes:
    """Greedy encode with zero per-gap / per-match Python loop bodies.

    One capturing trie-regex split over the MULTI-byte symbols yields
    [gap, match, gap, ...] in a single C pass.  ALL gaps then encode as
    one concatenated buffer through a single vectorized pass
    (translate when every gap byte is a known single-byte symbol,
    numpy escape interleave otherwise), and the final stream assembles
    via one scatter: gap bytes shift by the number of match codes
    before them, match codes land at their gap-boundary slots.  The
    round-3 version called the gap encoder once per gap (~13 us x tens
    of thousands of gaps on symbol-dense columns) — that per-call
    dispatch was the actual bound, not the regex.
    """
    if not symbols:
        return _escape_gap(data)
    multi = [i for i in range(len(symbols)) if len(symbols[i]) > 1]
    tbl, lut, known = _single_luts(symbols)
    if not multi:
        enc, _ = _encode_bytes_flat(data, tbl, lut, known)
        return enc.tobytes()
    pattern = _trie_pattern([symbols[i] for i in multi])
    code_of = {symbols[i]: i for i in multi}
    parts = pattern.split(data)  # even slots: gaps, odd slots: matches
    gaps = parts[0::2]
    matches = parts[1::2]
    if not matches:
        enc, _ = _encode_bytes_flat(data, tbl, lut, known)
        return enc.tobytes()
    gcat = b"".join(gaps)
    glens = np.fromiter((len(g) for g in gaps), dtype=np.int64, count=len(gaps))
    enc, widths = _encode_bytes_flat(gcat, tbl, lut, known)
    if widths is None:
        enc_gap_lens = glens
    else:  # encoded length per gap = sum of its bytes' output widths
        goffs = np.concatenate(([0], np.cumsum(glens)))
        wcum = np.concatenate(([0], np.cumsum(widths)))
        enc_gap_lens = np.diff(wcum[goffs])
    mcodes = np.fromiter(
        (code_of[m] for m in matches), dtype=np.uint8, count=len(matches)
    )
    n_m = len(matches)
    e_offs = np.concatenate(([0], np.cumsum(enc_gap_lens)))
    out = np.empty(len(enc) + n_m, dtype=np.uint8)
    out[e_offs[1 : n_m + 1] + np.arange(n_m, dtype=np.int64)] = mcodes
    if len(enc):
        shift = np.repeat(np.arange(len(gaps), dtype=np.int64), enc_gap_lens)
        out[np.arange(len(enc), dtype=np.int64) + shift] = enc
    return out.tobytes()


def _map_codes(seg: bytes, sym_concat: np.ndarray, sym_off: np.ndarray,
               sym_len: np.ndarray) -> bytes:
    """Vectorized variable-length gather: code bytes -> symbol bytes."""
    if not seg:
        return b""
    codes = np.frombuffer(seg, dtype=np.uint8)
    lens = sym_len[codes]
    starts = sym_off[codes]
    total = int(lens.sum())
    # int32 index math: the gather is memory-bandwidth-bound and block
    # payloads are far below 2^31 bytes — half the index traffic
    idx = np.repeat(starts - (np.cumsum(lens, dtype=np.int32) - lens), lens) + np.arange(
        total, dtype=np.int32
    )
    return sym_concat[idx].tobytes()


def decompress_bytes(data: bytes, symbols: list[bytes]) -> bytes:
    """Whole-stream vectorized decode (byte-identical to the former
    split-at-escape loop, which paid ~20 µs of numpy dispatch per escape
    — per-row cost on escape-dense streams).  One pass classifies every
    position as escape MARKER / escaped LITERAL / symbol CODE: within a
    maximal run of consecutive 0xFF bytes starting at a token boundary,
    even offsets are markers and odd offsets their literals (a marker
    always consumes exactly the next byte), then literals scatter as
    single bytes and all code positions expand through the symbol table
    in one variable-length gather."""
    if not data:
        return b""
    concat = b"".join(symbols)
    sym_concat = np.frombuffer(concat, dtype=np.uint8)
    k = len(symbols)
    # 256-entry lookup tables so any code byte indexes safely
    lut_len = np.zeros(256, dtype=np.int32)
    lut_off = np.zeros(256, dtype=np.int32)
    if k:
        lens = np.array([len(s) for s in symbols], dtype=np.int32)
        lut_len[:k] = lens
        offs = np.zeros(k, dtype=np.int32)
        if k > 1:
            offs[1:] = np.cumsum(lens[:-1])
        lut_off[:k] = offs

    codes = np.frombuffer(data, dtype=np.uint8)
    n = len(codes)
    esc_idx = np.flatnonzero(codes == ESCAPE)
    if len(esc_idx) == 0:
        return _map_codes(data, sym_concat, lut_off, lut_len)
    run_start = np.concatenate(([True], np.diff(esc_idx) > 1))
    rel = esc_idx - np.maximum.accumulate(np.where(run_start, esc_idx, 0))
    markers = esc_idx[rel % 2 == 0]
    lit_pos = markers + 1
    out_len = lut_len[codes].astype(np.int64)
    out_len[markers] = 0
    trailing = bool(len(lit_pos)) and lit_pos[-1] == n
    if trailing:
        # lone trailing escape decodes as a literal 0xFF (loop parity)
        out_len[markers[-1]] = 1
        lit_pos = lit_pos[:-1]
    out_len[lit_pos] = 1
    offs_out = np.concatenate(([0], np.cumsum(out_len)))
    out = np.empty(int(offs_out[-1]), dtype=np.uint8)
    out[offs_out[lit_pos]] = codes[lit_pos]
    if trailing:
        out[offs_out[markers[-1]]] = ESCAPE
    is_special = np.zeros(n, dtype=bool)
    is_special[markers] = True
    is_special[lit_pos] = True
    code_pos = np.flatnonzero(~is_special)
    if len(code_pos):
        cp = codes[code_pos]
        ln = lut_len[cp].astype(np.int64)
        tot = int(ln.sum())
        # int64 throughout: an int32 cumsum/arange would wrap silently
        # past 2^31 decoded symbol bytes and corrupt the gather
        # (ADVICE r06; negligible cost at real block sizes)
        src = np.repeat(
            lut_off[cp].astype(np.int64) - (np.cumsum(ln) - ln), ln
        ) + np.arange(tot, dtype=np.int64)
        dest = np.repeat(offs_out[code_pos] - (np.cumsum(ln) - ln), ln) + np.arange(
            tot, dtype=np.int64
        )
        out[dest] = sym_concat[src]
    return out.tobytes()


# --------------------------------------------------------- framed codec ----
#
# The whole block's utf-8 concatenation is FSST-compressed in ONE pass
# (symbols may span string boundaries — harmless, decode decompresses
# the whole stream first, then slices by the stored original byte
# lengths).  zstd runs on top of the code stream, the FSST+LZ4 pairing
# from the paper; decode still reads blocks whose meta says
# ``"zstd": false``.


def encode_fsst(arr: pa.Array) -> bytes:
    lengths, data = utf8_view(arr)
    symbols = train(data)
    codes = compress_bytes(data, symbols)
    table = b"".join(symbols)
    tmeta, tlens = pack_ints(np.array([len(s) for s in symbols], dtype=np.int64))
    lmeta, lpay = pack_ints(lengths)
    meta = {
        "n": len(arr), "nsym": len(symbols), "tbl_len": len(table),
        "tlens": tmeta, "tlplen": len(tlens),
        "lens": lmeta, "lplen": len(lpay),
        "zstd": True, "codes_raw": len(codes),
    }
    mb = blocks.mask_part(meta, null_mask(arr))
    return blocks.frame("fsst", meta, mb + tlens + table + lpay + blocks.compress(codes))


def decode_fsst(meta: dict, payload: bytes) -> pa.Array:
    n = meta["n"]
    mask, payload = blocks.split_mask(meta, payload, n)
    p = 0
    tlplen = meta["tlplen"]
    tlens = unpack_ints(meta["tlens"], payload[p : p + tlplen]); p += tlplen
    table = payload[p : p + meta["tbl_len"]]; p += meta["tbl_len"]
    symbols, q = [], 0
    for ln in tlens:
        symbols.append(table[q : q + int(ln)]); q += int(ln)
    lplen = meta["lplen"]
    lengths = unpack_ints(meta["lens"], payload[p : p + lplen]); p += lplen
    codes = payload[p:]
    if meta["zstd"]:
        codes = blocks.decompress(codes, meta["codes_raw"])
    return large_utf8_array(_offsets(lengths), decompress_bytes(codes, symbols), mask)
