"""String column codecs: PLAIN, DICT, RLE, FRONT, HEX.

Every encoder takes one input form, a ``pa.LargeStringArray``: the null
mask comes from ``arr.is_null()`` and the bytes from :func:`utf8_view`
over the array's (offsets, data) buffers, the form FSST and other
scan-side string compressors work on.  Anything else (a pandas Series,
a chunked or utf8 array) converts once, through :func:`as_large_utf8`,
where it enters ``api.encode_block`` or the selector.  Decoders return
the same form, a ``pa.LargeStringArray`` with nulls in its validity
bitmap.

All kernels are vectorized (numpy / Arrow / single C-level calls);
zero per-row Python in hot paths.  Nulls are exact: a null round-trips
to a null, and a value->null transition is representable — fixing the
``OptionDelta`` ``Some -> None`` ambiguity the reference documents in
/root/reference/deltoid-quickcheck-tests/src/main.rs:14-22.

Reference bases:
  DICT — keyed Add/Remove dictionary maintenance semantics of map/set
    deltas (/root/reference/deltoid/src/collections/hashmap.rs:57-85).
  RLE — the Remove{count} run-coalescing in Vec deltas
    (/root/reference/deltoid/src/vec.rs:61-64) generalized to value runs.
  PLAIN — full-replacement String delta
    (/root/reference/deltoid/src/string.rs:16-32) + zstd.
  FRONT — RLE runs whose values are front-coded against the previous
    run value (see the FRONT section).
  HEX — engine-new: 2x nibble-packing for hex columns (commit shas).
"""

from __future__ import annotations

import binascii

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from . import blocks
from .blocks import null_mask
from .intcodec import pack_ints, pack_ints_z, unpack_ints, unpack_ints_z


def as_large_utf8(values) -> pa.Array:
    """The encoders' one input form.  A pandas Series (None or NaN is
    null), a chunked array or a utf8 array converts here, once."""
    if isinstance(values, pa.ChunkedArray):
        values = values.combine_chunks()
    elif not isinstance(values, pa.Array):
        values = pa.array(values, type=pa.large_utf8(), from_pandas=True)
    return values if values.type == pa.large_utf8() else values.cast(pa.large_utf8())


def _filled(arr: pa.Array) -> pa.Array:
    """Nulls replaced by "": DICT/RLE/FRONT code a null row as ""."""
    return arr.fill_null("") if arr.null_count else arr


def large_utf8_array(offs: np.ndarray, data: bytes, mask: np.ndarray | None = None) -> pa.Array:
    """A LargeStringArray over int64 ``offs`` and the utf-8 ``data``,
    nulls (``mask`` True) in the validity bitmap."""
    validity, nulls = blocks.validity_buffer(mask)
    return pa.Array.from_buffers(
        pa.large_utf8(), len(offs) - 1,
        [validity, pa.py_buffer(offs.tobytes()), pa.py_buffer(data)], null_count=nulls,
    )


def _offsets(lengths: np.ndarray) -> np.ndarray:
    offs = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offs[1:])
    return offs


def _take(values: pa.Array, idx: np.ndarray, mask: np.ndarray | None) -> pa.Array:
    """``values[idx]``, null where ``mask`` is True."""
    if mask is not None and not mask.any():
        mask = None
    return values.take(pa.array(idx, type=pa.int64(), mask=mask))


# ---------------------------------------------------------------- PLAIN ----
#
# Hot path: the column's utf-8 bytes come straight from Arrow's
# (offsets, data) buffers — no per-string Python encode or join.


def utf8_view(arr: pa.Array) -> tuple[np.ndarray, bytes]:
    """(byte_lengths, concatenated utf-8 data) of a LargeStringArray,
    slice offset honoured.  A null slot reads as its stored bytes, which
    every Arrow producer here (pandas conversion, take, Spark) leaves
    empty."""
    if len(arr) == 0:
        return np.zeros(0, np.int64), b""
    bufs = arr.buffers()
    offs = np.frombuffer(bufs[1], dtype=np.int64)[arr.offset : arr.offset + len(arr) + 1]
    lengths = np.diff(offs)
    data = bufs[2].to_pybytes()[offs[0] : offs[-1]] if bufs[2] is not None else b""
    return lengths, data


def encode_plain(arr: pa.Array) -> bytes:
    lengths, data = utf8_view(arr)
    lmeta, lpay = pack_ints(lengths)
    comp = blocks.compress(data)
    meta = {"n": len(arr), "lens": lmeta, "lplen": len(lpay), "raw": len(data)}
    mb = blocks.mask_part(meta, null_mask(arr))
    return blocks.frame("plain", meta, mb + lpay + comp)


def decode_plain(meta: dict, payload: bytes) -> pa.Array:
    """A LargeStringArray straight over the decompressed buffers."""
    mask, payload = blocks.split_mask(meta, payload, meta["n"])
    lplen = meta["lplen"]
    lengths = unpack_ints(meta["lens"], payload[:lplen])
    data = blocks.decompress(payload[lplen:], meta["raw"])
    return large_utf8_array(_offsets(lengths), data, mask)


# ----------------------------------------------------------------- DICT ----


def _factorize_exact(arr: pa.Array) -> tuple[np.ndarray, pa.Array]:
    """(codes, sorted uniques) of a null-free LargeStringArray.  Arrow
    hashes length-prefixed strings, so values with embedded ``\\x00``
    stay apart ('' vs '\\x00'; pd.factorize hashes C strings and
    collides them).  The U uniques sort bytewise, and utf-8 byte order
    is code-point order, so the deterministic sorted unique order (A8
    analog) is the ``np.unique`` / python ``<`` order."""
    if len(arr) == 0:
        return np.zeros(0, dtype=np.int64), arr
    d = arr.dictionary_encode()
    codes = d.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    order = pc.sort_indices(d.dictionary).to_numpy()
    rank = np.empty(len(order), dtype=np.int64)
    rank[order] = np.arange(len(order), dtype=np.int64)
    return rank[codes], d.dictionary.take(order)


def encode_dict(arr: pa.Array) -> bytes:
    codes, uniques = _factorize_exact(_filled(arr))
    cmeta, cpay = pack_ints_z(codes)
    inner = encode_plain(uniques)
    meta = {"n": len(arr), "codes": cmeta, "cplen": len(cpay), "card": len(uniques)}
    mb = blocks.mask_part(meta, null_mask(arr))
    return blocks.frame("dict", meta, mb + cpay + inner)


def decode_dict(meta: dict, payload: bytes) -> pa.Array:
    mask, payload = blocks.split_mask(meta, payload, meta["n"])
    cplen = meta["cplen"]
    codes = unpack_ints_z(meta["codes"], payload[:cplen])
    _, imeta, ipay = blocks.unframe(payload[cplen:])
    return _take(decode_plain(imeta, ipay), codes, mask)


# ------------------------------------------------------------------ RLE ----


def encode_rle(arr: pa.Array) -> bytes:
    n = len(arr)
    # factorize so null participates as code -1 -> runs computed on codes
    codes, uniques = _factorize_exact(_filled(arr))
    codes[null_mask(arr)] = -1
    if n:
        starts = np.flatnonzero(np.concatenate(([True], codes[1:] != codes[:-1])))
        run_lens = np.diff(np.concatenate((starts, [n])))
        run_codes = codes[starts] + 1  # shift: 0 == null
    else:
        run_lens = np.zeros(0, np.int64)
        run_codes = np.zeros(0, np.int64)
    rmeta, rpay = pack_ints_z(run_codes)
    lmeta, lpay = pack_ints_z(run_lens)
    inner = encode_plain(uniques)
    meta = {
        "n": n, "runs": len(run_lens),
        "rcodes": rmeta, "rclen": len(rpay),
        "rlens": lmeta, "rllen": len(lpay),
    }
    return blocks.frame("rle", meta, rpay + lpay + inner)


def decode_rle(meta: dict, payload: bytes) -> pa.Array:
    rclen, rllen = meta["rclen"], meta["rllen"]
    run_codes = unpack_ints_z(meta["rcodes"], payload[:rclen])
    run_lens = unpack_ints_z(meta["rlens"], payload[rclen : rclen + rllen])
    _, imeta, ipay = blocks.unframe(payload[rclen + rllen :])
    codes = np.repeat(run_codes, run_lens)
    mask = codes == 0  # code 0 is a null run
    return _take(decode_plain(imeta, ipay), np.maximum(codes - 1, 0), mask)


# ---------------------------------------------------------------- FRONT ----
#
# Run-length + front coding for clustered/sorted string columns — the
# ``path`` column of a code table sorted by (repo, path, commit) is the
# canonical case.  Runs of identical values collapse to run lengths
# like RLE, and each run VALUE stores only its byte suffix after the
# longest common prefix with the PREVIOUS run value (incremental /
# prefix-truncated encoding — the same idea as Parquet's
# DELTA_BYTE_ARRAY, public format spec).  Wins exactly where PLAIN
# pays zstd's per-value match-window cost for near-identical sorted
# neighbors and RLE still re-stores each distinct value whole
# (measured: path blocks ~2x under the prior selector winner, see
# BASELINE.md round 6).  Reference basis: same A2/A3 string
# full-replacement semantics (string.rs) — the codec is a storage
# layout, decode reproduces every value bytewise.


def _prefix_lens(lens: np.ndarray, data: bytes) -> np.ndarray:
    """Common byte-prefix length of each value with its predecessor,
    vectorized: ONE segmented elementwise compare over all consecutive
    pairs (the chain-kernel prefix trick at byte granularity).
    Entry 0 is 0."""
    R = len(lens)
    if R <= 1:
        return np.zeros(R, dtype=np.int64)
    buf = np.frombuffer(data, dtype=np.uint8)
    offs = np.concatenate(([0], np.cumsum(lens)))
    m = np.minimum(lens[:-1], lens[1:])
    seg = np.concatenate(([0], np.cumsum(m)))
    tot = int(seg[-1])
    rep = np.repeat(np.arange(R - 1, dtype=np.int64), m)
    j = np.arange(tot, dtype=np.int64) - seg[rep]
    neq = buf[offs[:-1][rep] + j] != buf[offs[1:][rep] + j]
    p = m.copy()
    nz = np.flatnonzero(neq)
    if len(nz):
        useg, ufirst = np.unique(rep[nz], return_index=True)
        p[useg] = (nz - seg[rep[nz]])[ufirst]
    return np.concatenate(([0], p))


def _within(lens: np.ndarray) -> np.ndarray:
    """[0..lens[0]), [0..lens[1]), ... as one flat int64 array."""
    total = int(lens.sum())
    if total == 0:
        return np.zeros(0, dtype=np.int64)
    off = np.cumsum(lens) - lens
    return np.arange(total, dtype=np.int64) - np.repeat(off, lens)


_FRONT_MAX_WIDTH = 4096  # max shared-prefix len; beyond: per-run decode fallback


def encode_front(arr: pa.Array) -> bytes:
    mask = null_mask(arr)
    n = len(arr)
    if n:
        # run boundary iff the (value, null) STATE changes; a null reads
        # as "" here, so a real "" must not merge with a null neighbor
        filled = _filled(arr)
        eq = pc.equal(filled.slice(1), filled.slice(0, n - 1)).to_numpy(zero_copy_only=False)
        same = (mask[1:] == mask[:-1]) & (mask[1:] | eq)
        starts = np.flatnonzero(np.concatenate(([True], ~same)))
        run_lens = np.diff(np.concatenate((starts, [n])))
        run_null = mask[starts]
    else:
        starts = np.zeros(0, dtype=np.int64)
        run_lens = np.zeros(0, dtype=np.int64)
        run_null = np.zeros(0, dtype=bool)
    lens, data = utf8_view(arr.take(pa.array(starts[~run_null], type=pa.int64())))
    plens = _prefix_lens(lens, data)
    slens = lens - plens
    buf = np.frombuffer(data, dtype=np.uint8)
    src = np.repeat(np.cumsum(lens) - lens + plens, slens) + _within(slens)
    suffix = buf[src].tobytes()
    rmeta, rpay = pack_ints_z(run_lens)
    pmeta, ppay = pack_ints_z(plens)
    smeta, spay = pack_ints_z(slens)
    comp = blocks.compress(suffix)
    meta = {
        "n": n, "runs": len(run_lens),
        "rl": rmeta, "rllen": len(rpay),
        "pl": pmeta, "pllen": len(ppay),
        "sl": smeta, "sllen": len(spay),
        "raw": len(suffix),
    }
    nb = b""
    if run_null.any():
        nb = blocks.pack_mask(run_null)
        meta["rn_len"] = len(nb)
    return blocks.frame("front", meta, nb + rpay + ppay + spay + comp)


def _front_values(plens: np.ndarray, slens: np.ndarray, suffix: bytes) -> tuple[bytes, np.ndarray]:
    """Reconstruct the run values: (concatenated bytes, per-value lens).

    Suffix bytes scatter straight into the output buffer; only the
    shared-prefix columns [0, max_prefix) go through a vectorized
    column-wise propagation matrix, so memory and passes scale with
    prefix length, not value length.  Degenerate very-long PREFIXES
    (> _FRONT_MAX_WIDTH bytes) fall back to a per-run loop; the
    selector only picks front where values are path-sized, but decode
    must be total."""
    K = len(plens)
    L = plens + slens
    if K == 0:
        return b"", L
    P = int(plens.max())
    sb = np.frombuffer(suffix, dtype=np.uint8)
    if P > _FRONT_MAX_WIDTH:
        soffs = np.concatenate(([0], np.cumsum(slens)))
        outs: list[bytes] = []
        prevb = b""
        for i in range(K):
            v = prevb[: plens[i]] + suffix[soffs[i] : soffs[i + 1]]
            outs.append(v)
            prevb = v
        return b"".join(outs), L
    out_offs = np.cumsum(L) - L
    out = np.empty(int(L.sum()), dtype=np.uint8)
    # suffix bytes land directly at their output positions — no padded
    # (runs, max_len) matrix over the value bodies (an 80 MB zero-fill
    # per 20 k-run block of 4 KB values under the old formulation)
    if len(sb):
        out[np.repeat(out_offs + plens, slens) + _within(slens)] = sb
    if P:
        # prefix propagation only needs columns [0, max_prefix): build
        # the (runs, P) matrix from each run's suffix bytes that fall
        # inside those columns, fill each column's prefix cells from the
        # LATEST earlier run whose prefix ends at or before it (sources
        # are always self-suffix bytes — a run with plens > col has
        # length > col, and the terminal source's length exceeds col via
        # its successor's prefix — so one pass per column suffices),
        # then gather just the prefix bytes out.
        idx = np.arange(K, dtype=np.int64)
        fill = np.minimum(P, L) - plens  # >= 0: plens <= P and plens <= L
        mat = np.zeros((K, P), dtype=np.uint8)
        soffs = np.cumsum(slens) - slens
        mat.ravel()[np.repeat(idx * P + plens, fill) + _within(fill)] = sb[
            np.repeat(soffs, fill) + _within(fill)
        ]
        for col in range(P):
            need = plens > col
            if not need.any():
                continue
            srcr = np.maximum.accumulate(np.where(plens <= col, idx, -1))
            snapshot = mat[:, col]
            mat[need, col] = snapshot[srcr[need]]
        out[np.repeat(out_offs, plens) + _within(plens)] = mat.ravel()[
            np.repeat(idx * P, plens) + _within(plens)
        ]
    return out.tobytes(), L


def decode_front(meta: dict, payload: bytes) -> pa.Array:
    n, runs = meta["n"], meta["runs"]
    p = 0
    rn_len = meta.get("rn_len", 0)
    run_null = (
        blocks.unpack_mask(payload[:rn_len], runs)
        if rn_len
        else np.zeros(runs, dtype=bool)
    )
    p += rn_len
    run_lens = unpack_ints_z(meta["rl"], payload[p : p + meta["rllen"]]); p += meta["rllen"]
    plens = unpack_ints_z(meta["pl"], payload[p : p + meta["pllen"]]); p += meta["pllen"]
    slens = unpack_ints_z(meta["sl"], payload[p : p + meta["sllen"]]); p += meta["sllen"]
    suffix = blocks.decompress(payload[p:], meta["raw"])
    data, L = _front_values(plens, slens, suffix)
    if len(L) == 0:  # all rows null (or empty block)
        return pa.nulls(n, pa.large_utf8())
    # expand runs to rows: null runs take a masked slot
    run_codes = np.cumsum(~run_null) - 1  # id of each non-null run
    row_codes = np.repeat(run_codes, run_lens)
    return _take(
        large_utf8_array(_offsets(L), data), np.maximum(row_codes, 0),
        np.repeat(run_null, run_lens),
    )


# ------------------------------------------------------------------ HEX ----

_HEX_LUT = np.zeros(256, dtype=bool)
_HEX_LUT[np.frombuffer(b"0123456789abcdef", dtype=np.uint8)] = True


def _lower_hex(lens: np.ndarray, data: bytes) -> bool:
    """Every value of a utf-8 view (null slots are empty) is even-length
    lowercase hex: even lengths + an all-hex-digit LUT check on the
    concatenated data (hex is ascii, so bytes == chars)."""
    return not (lens % 2).any() and bool(_HEX_LUT[np.frombuffer(data, dtype=np.uint8)].all())


def hex_eligible(arr: pa.Array) -> bool:
    """True iff there is a non-null value and every one is even-length
    lowercase hex.

    One pass over the Arrow byte view — the per-value regex this
    replaces cost ~19 ms per 1024-row selector sample, ~4% of the
    encode kernel."""
    if arr.null_count == len(arr):
        return False
    return _lower_hex(*utf8_view(arr))


def encode_hex(arr: pa.Array) -> bytes:
    """HEX packs each pair of digits into one byte.  Any other value is
    refused: uppercase digits would decode lowercased, a silent data
    change, and odd lengths or non-digits cannot pack."""
    # hex is ascii, so the Arrow byte view IS the char view: lengths and
    # concatenated digits come straight off the (offsets, data) buffers —
    # no python-string materialization (unhexlify accepts bytes)
    lengths, data = utf8_view(arr)
    if not _lower_hex(lengths, data):
        raise ValueError("hex codec needs even-length lowercase hex values")
    packed = binascii.unhexlify(data)  # single C call
    comp = blocks.compress(packed)  # structured hex (shared prefixes) compresses further
    half = lengths // 2
    lmeta, lpay = pack_ints(half)
    meta = {"n": len(arr), "lens": lmeta, "lplen": len(lpay), "raw": len(packed)}
    mb = blocks.mask_part(meta, null_mask(arr))
    return blocks.frame("hex", meta, mb + lpay + comp)


def decode_hex(meta: dict, payload: bytes) -> pa.Array:
    mask, payload = blocks.split_mask(meta, payload, meta["n"])
    lplen = meta["lplen"]
    half = unpack_ints(meta["lens"], payload[:lplen])
    data = blocks.decompress(payload[lplen:], meta["raw"]).hex().encode()  # one C call
    # strings over the ascii buffer via Arrow offsets (as decode_plain
    # does) — no per-row slicing loop
    return large_utf8_array(_offsets(half * 2), data, mask)
