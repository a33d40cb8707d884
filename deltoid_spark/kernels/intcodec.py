"""Frame-of-reference + bit-packing for int64 columns.

Reference basis: deltoid's primitive scalar deltas (full-replacement
``XDelta(Option<T>)``, /root/reference/deltoid/src/core.rs:41-122) are
replaced here by FoR + width-minimal packing over int-like derived
columns (commit ranks, offsets, run lengths), per the VLDB 2024
delta-vs-FoR comparison in PAPERS.md.

Two layers:

* ``pack_ints`` / ``unpack_ints`` — unframed helpers used *inside*
  other codecs (offsets, run lengths, edit indices).  Meta travels in
  the host codec's meta dict.
* ``encode_for`` / ``decode_for`` — a framed standalone block for
  int64 columns with optional nulls.  Framed decoders return an int64
  ``pa.Array`` with nulls in its validity bitmap.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from . import blocks


# ------------------------------------------------------------- unframed ----


def pack_ints(values: np.ndarray) -> tuple[dict, bytes]:
    """FoR + bit-pack an int64 array. Returns (meta, payload)."""
    v = np.asarray(values, dtype=np.int64)
    n = len(v)
    if n == 0:
        return {"n": 0, "ref": 0, "w": 0}, b""
    ref = int(v.min())
    deltas = (v - ref).astype(np.uint64)
    w = blocks.bit_width(int(deltas.max()))
    return {"n": n, "ref": ref, "w": w}, blocks.bitpack(deltas, w)


def unpack_ints(meta: dict, payload: bytes) -> np.ndarray:
    n, ref, w = meta["n"], meta["ref"], meta["w"]
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    deltas = blocks.bitunpack(payload, n, w)
    return (deltas.astype(np.int64)) + np.int64(ref)


def pack_ints_z(values: np.ndarray, min_bytes: int = 256) -> tuple[dict, bytes]:
    """pack_ints + zstd when it pays (repetitive code/run sequences
    compress well below their bit-packed entropy bound)."""
    meta, pay = pack_ints(values)
    if len(pay) > min_bytes:
        comp = blocks.compress(pay)
        if len(comp) < len(pay):
            return {**meta, "z": len(pay)}, comp
    return meta, pay


def unpack_ints_z(meta: dict, payload: bytes) -> np.ndarray:
    if "z" in meta:
        payload = blocks.decompress(payload, meta["z"])
    return unpack_ints(meta, payload)


def pack_dint_z(values: np.ndarray) -> tuple[dict, bytes]:
    """Unframed best-of {FoR, zigzag-delta, zigzag-delta-of-delta}
    (+zstd) — the DINT selection for int leaves INSIDE other codecs
    (nested leaf arrays, offsets).  Same candidates and modular-int64
    arithmetic as the framed ``encode_dint``; the winning mode (and
    the d1/d2 first values) travel in the returned meta, so
    ``unpack_dint_z`` is self-describing and falls back to plain
    ``unpack_ints_z`` for metas written before this codec existed
    (no "m" key)."""
    v = np.asarray(values, dtype=np.int64)
    n = len(v)
    cands: dict[str, tuple[dict, bytes]] = {"f": pack_ints(v)}
    if n >= 2:
        with np.errstate(over="ignore"):
            d1 = v[1:] - v[:-1]
        cands["d1"] = pack_ints(_zigzag(d1).view(np.int64))
        if n >= 3:
            with np.errstate(over="ignore"):
                d2 = d1[1:] - d1[:-1]
            cands["d2"] = pack_ints(_zigzag(d2).view(np.int64))
    _meta_cost = {"f": 0, "d1": 14, "d2": 28}
    mode = min(cands, key=lambda k: len(cands[k][1]) + _meta_cost[k])
    m, pay = cands[mode]
    meta = dict(m)
    if mode != "f":
        meta["m"] = mode
        meta["v0"] = int(v[0])
        if mode == "d2":
            meta["v1"] = int(v[1])
    if len(pay) > 256:
        comp = blocks.compress(pay)
        if len(comp) < len(pay):
            return {**meta, "z": len(pay)}, comp
    return meta, pay


def unpack_dint_z(meta: dict, payload: bytes) -> np.ndarray:
    return _undelta(unpack_ints_z(meta, payload), meta.get("m", "f"), meta)


def _undelta(packed: np.ndarray, mode: str, meta: dict) -> np.ndarray:
    """Invert a DINT mode ("f", "d1" or "d2"; first values in meta)."""
    if mode == "f":
        return packed
    if mode == "d1":
        d1 = _unzigzag(packed.view(np.uint64))
        with np.errstate(over="ignore"):
            return np.concatenate(
                ([meta["v0"]], np.int64(meta["v0"]) + np.cumsum(d1))
            ).astype(np.int64)
    d2 = _unzigzag(packed.view(np.uint64))
    with np.errstate(over="ignore"):
        first_d = np.int64(meta["v1"]) - np.int64(meta["v0"])
        d1 = np.concatenate(([first_d], first_d + np.cumsum(d2))).astype(np.int64)
        return np.concatenate(
            ([meta["v0"]], np.int64(meta["v0"]) + np.cumsum(d1))
        ).astype(np.int64)


# --------------------------------------------------------------- framed ----


def _filled_ints(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(null mask, int64 values with 0 under every null) of an int
    ``pa.Array``."""
    vals = arr.fill_null(0).to_numpy(zero_copy_only=False)
    return blocks.null_mask(arr), np.asarray(vals, dtype=np.int64)


def encode_for(arr: pa.Array) -> bytes:
    """Encode an int64 column (nullable) as a framed FoR block."""
    mask, vals = _filled_ints(arr)
    meta, payload = pack_ints(vals)
    mb = blocks.mask_part(meta, mask)
    return blocks.frame("for", meta, mb + payload)


def decode_for(meta: dict, payload: bytes) -> pa.Array:
    mask, payload = blocks.split_mask(meta, payload, meta["n"])
    return pa.array(unpack_ints(meta, payload), type=pa.int64(), mask=mask)


# ----------------------------------------------------- delta-int family ----


def _zigzag(v: np.ndarray) -> np.ndarray:
    u = v.astype(np.uint64)
    return (u << np.uint64(1)) ^ (v >> np.int64(63)).astype(np.uint64)


def _unzigzag(z: np.ndarray) -> np.ndarray:
    return (z >> np.uint64(1)).astype(np.int64) ^ -(
        (z & np.uint64(1)).astype(np.int64)
    )


def encode_dint(arr: pa.Array) -> bytes:
    """Best-of {FoR, zigzag-delta, zigzag-delta-of-delta} for an int64
    column (nullable) — the Gorilla-style upgrade for the sequences
    FoR leaves on the table: sorted ids / offsets pack to the delta's
    width, near-constant-rate timestamps to the ACCELERATION's width
    (regular cadence -> ~0 bits/value).  All three candidates cost one
    numpy pass each; the smallest payload wins and the mode travels in
    the frame meta, so decode is self-describing.  Arithmetic is
    modular int64 (numpy wrapping) on BOTH sides, so extreme values
    (the 2^63-boundary adversarial rows) round-trip exactly even when
    a diff overflows."""
    mask, vals = _filled_ints(arr)
    n = len(vals)
    cands: dict[str, tuple[dict, bytes]] = {"f": pack_ints(vals)}
    if n >= 2:
        with np.errstate(over="ignore"):
            d1 = vals[1:] - vals[:-1]
        cands["d1"] = pack_ints(_zigzag(d1).view(np.int64))
        if n >= 3:
            with np.errstate(over="ignore"):
                d2 = d1[1:] - d1[:-1]
            cands["d2"] = pack_ints(_zigzag(d2).view(np.int64))
    # selection includes each mode's meta overhead (d1/d2 carry raw
    # first values in the json meta), so a mode only wins when its
    # TOTAL frame is smaller — ties go to plain FoR
    _meta_cost = {"f": 0, "d1": 14, "d2": 28}
    mode = min(cands, key=lambda k: len(cands[k][1]) + _meta_cost[k])
    m, payload = cands[mode]
    meta = {"mode": mode, **m}
    if mode == "d1":
        meta["v0"] = int(vals[0])
    elif mode == "d2":
        meta["v0"], meta["v1"] = int(vals[0]), int(vals[1])
    mb = blocks.mask_part(meta, mask)
    meta["rows"] = n
    return blocks.frame("dint", meta, mb + payload)


def decode_dint(meta: dict, payload: bytes) -> pa.Array:
    mask, payload = blocks.split_mask(meta, payload, meta["rows"])
    vals = _undelta(unpack_ints(meta, payload), meta["mode"], meta)
    return pa.array(vals, type=pa.int64(), mask=mask)
