"""FP codec: pseudo-decimal ints when the data is decimal, IEEE lanes
+ zstd otherwise — null-mask aware.

Reference basis: deltoid's primitive macro covers f32/f64 with
full-replacement deltas (/root/reference/deltoid/src/core.rs:102-122);
the columnar analog is PLAIN over fixed-width lanes.  The decimal mode
is the ALP idea (Afroozeh & Boncz, SIGMOD 2024, public): most real
float columns (prices, measurements, ratios) are decimals that happen
to live in binary floats, so ``round(v * 10^e)`` reconstructs them
EXACTLY for some small e — store the integers (FoR/delta-packed, tiny)
plus an exception list for the stragglers, and fall back to lanes when
the column isn't decimal.  Mode selection compares actual encoded
sizes, and a lanes win emits the byte-identical pre-decimal format.

Exactness: decode divides by the same binary-exact power of ten
(10^e is exactly representable for e <= 22) with one IEEE double
division — the identical operation the encode-side check performed, so
conforming values round-trip bit-for-bit.  Non-finite values and -0.0
(whose sign a decimal int can't carry) go to the exception list.

Encode reads a ``pa.Array``.  Nulls are carried in the packed validity
mask, and decode returns a float32/float64 ``pa.Array`` with them in
its validity bitmap; a NaN is a value here, kept bit-exact in the lanes
or the exception list.  A top-level float column of a table is a
different matter: the float record's storage mapping
(``jobs/coltypes``) turns its NaNs into nulls first, so there NaN
and null share the mask bit and a NaN decodes as null.  NaN inside
a nested float leaf stays a value (kernels/nested).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from . import blocks
from .intcodec import pack_ints_z, unpack_ints_z

_MAX_EXP = 14
_DEC_LIMIT = 1 << 51  # keep scaled ints well inside exact-double range


def _decimal_probe(vals: np.ndarray, mask: np.ndarray) -> tuple[int, np.ndarray] | None:
    """Find the smallest 10^e that reconstructs (almost) every finite
    value exactly; returns (e, conforming_bool) or None.  Probes a
    stride sample first, then verifies the winning exponent on the
    full column (the ALP sample-then-verify shape)."""
    cand = ~mask & np.isfinite(vals) & ~(np.signbit(vals) & (vals == 0.0))
    if not cand.any():
        return None
    sample = vals[cand][:: max(1, cand.sum() // 1024)]

    def conforms(v: np.ndarray, e: int) -> np.ndarray:
        with np.errstate(invalid="ignore", over="ignore"):
            d = np.round(v * (10.0 ** e))
            return (np.abs(d) < _DEC_LIMIT) & (d / (10.0 ** e) == v)

    for e in range(_MAX_EXP + 1):
        if conforms(sample, e).mean() >= 0.95:
            ok = cand.copy()
            ok[cand] = conforms(vals[cand], e)
            if ok.sum() >= 0.9 * cand.sum():
                return e, ok
            # sample lied (skewed column) — keep trying larger e
    return None


def encode_fp(arr: pa.Array, width: int = 8) -> bytes:
    """Encode a float column; width 4 (float32) or 8 (float64).
    float64 columns additionally try the pseudo-decimal mode and keep
    whichever encoding is smaller."""
    mask = blocks.null_mask(arr)
    dt = np.float64 if width == 8 else np.float32
    # 0.0 under every null: deterministic bytes under any null payload
    vals = np.asarray(arr.fill_null(0.0).to_numpy(zero_copy_only=False), dtype=dt)
    raw = vals.tobytes()
    comp = blocks.compress(raw)
    meta = {"n": len(arr), "w": width, "raw": len(raw)}
    mb = blocks.mask_part(meta, mask)
    lanes = blocks.frame("fp", meta, mb + comp)

    if width != 8 or len(arr) == 0:
        return lanes
    probe = _decimal_probe(vals, mask)
    if probe is None:
        return lanes
    e, ok = probe
    d = np.zeros(len(vals), dtype=np.int64)
    with np.errstate(invalid="ignore", over="ignore"):
        d[ok] = np.round(vals[ok] * (10.0 ** e)).astype(np.int64)
    exc_pos = np.flatnonzero(~ok & ~mask)
    imeta, ipay = pack_ints_z(d)
    pmeta, ppay = pack_ints_z(exc_pos)
    exc_raw = vals[exc_pos].tobytes()
    dmeta = {
        "n": len(arr), "w": width, "mode": "dec", "e": e,
        "ints": imeta, "ilen": len(ipay),
        "epos": pmeta, "eplen": len(ppay), "nexc": len(exc_pos),
        "has_null": meta["has_null"],
    }
    if meta["has_null"]:
        dmeta["mask_len"] = meta["mask_len"]
    dec = blocks.frame("fp", dmeta, mb + ipay + ppay + exc_raw)
    return dec if len(dec) < len(lanes) else lanes


def decode_fp(meta: dict, payload: bytes) -> pa.Array:
    mask, payload = blocks.split_mask(meta, payload, meta["n"])
    if meta.get("mode") == "dec":
        d = unpack_ints_z(meta["ints"], payload[: meta["ilen"]])
        payload = payload[meta["ilen"]:]
        exc_pos = unpack_ints_z(meta["epos"], payload[: meta["eplen"]])
        payload = payload[meta["eplen"]:]
        vals = d.astype(np.float64) / (10.0 ** meta["e"])
        if meta["nexc"]:
            vals[exc_pos] = np.frombuffer(
                payload, dtype=np.float64, count=meta["nexc"]
            )
        return pa.array(vals, type=pa.float64(), mask=mask)
    raw = blocks.decompress(payload, meta["raw"])
    dt = np.float64 if meta["w"] == 8 else np.float32
    return pa.array(np.frombuffer(raw, dtype=dt), mask=mask)
