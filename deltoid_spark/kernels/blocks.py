"""Block container + wire format for encoded column blocks.

A block is the unit of encoded data: one column slice encoded by one
codec.  The wire format is self-describing so blocks nest (RLE stores
its run-values as an inner block, CHAIN stores its line payloads as an
inner block, ...).

Wire layout (little-endian):

    magic   4 bytes  b"DSB1"
    codec   1 byte   codec id (see CODEC_IDS)
    mlen    4 bytes  uint32 length of meta JSON
    meta    mlen bytes (compact JSON, sorted keys -> deterministic)
    payload rest

Determinism is a hard requirement: re-encoding the same input must
produce byte-identical blocks so checkpoint resume can verify work by
hash (reference analog: BTreeMap's deterministic ordering,
/root/reference/deltoid/src/collections/btreemap.rs:56-84).
"""

from __future__ import annotations

import json
import struct
import sys

import numpy as np
import pyarrow as pa

MAGIC = b"DSB1"

CODEC_IDS = {
    "plain": 0,
    "dict": 1,
    "rle": 2,
    "for": 3,  # frame-of-reference + bit-pack, int64
    "fsst": 4,
    "chain": 5,
    "hex": 6,
    "fp": 7,  # fixed-width IEEE float lanes + zstd
    "mapdelta": 8,  # keyed Add/Edit/Remove map deltas (HashMap::delta)
    "strlist": 9,  # array<string>: packed lengths + flattened elements
    "nested": 10,  # recursive struct/array/map tree, per-leaf scalar codecs
    "dint": 11,  # best-of {FoR, zigzag-delta, delta-of-delta}, int64
    "front": 12,  # run-length + front-coded run values (sorted strings)
}
CODEC_NAMES = {v: k for k, v in CODEC_IDS.items()}

_HEADER = struct.Struct("<4sBI")


def frame(codec: str, meta: dict, payload: bytes) -> bytes:
    """Wrap (codec, meta, payload) into the self-describing wire format."""
    mbytes = json.dumps(meta, sort_keys=True, separators=(",", ":")).encode()
    return _HEADER.pack(MAGIC, CODEC_IDS[codec], len(mbytes)) + mbytes + payload


def unframe(buf: bytes) -> tuple[str, dict, bytes]:
    magic, codec_id, mlen = _HEADER.unpack_from(buf, 0)
    if magic != MAGIC:
        raise ValueError(f"bad block magic: {magic!r}")
    off = _HEADER.size
    meta = json.loads(buf[off : off + mlen].decode())
    return CODEC_NAMES[codec_id], meta, buf[off + mlen :]


# ---------------------------------------------------------------- zstd ----


# zstd level 9, a constant: the encoded bytes (pinned by the golden
# digests) depend on it, so no setting may change it per process.
# Any level decodes.  On the code fixture: level 3 ->
# 0.066, 9 -> 0.058, 12 -> 0.049 total ratio; higher levels are
# search-heavy (memory-bandwidth-hungry), which costs parallel
# efficiency on bandwidth-starved hosts.
_ZSTD = pa.Codec("zstd", compression_level=9)


def compress(data: bytes) -> bytes:
    """zstd via pyarrow (JVM-free, vectorized C path)."""
    return _ZSTD.compress(data, asbytes=True)


def decompress(data: bytes, raw_size: int) -> bytes:
    return pa.decompress(data, decompressed_size=raw_size, codec="zstd", asbytes=True)


# ------------------------------------------- Arrow inputs and null masks ----


def as_type(arr: pa.Array | pa.ChunkedArray, t: pa.DataType) -> pa.Array:
    """``arr`` as one unsliced array of type ``t``: the encoders read
    large strings and lists, where Spark ships utf8 and list, and the
    list, map and struct encoders read child arrays whole, which a
    slice's offset does not reach."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if arr.offset:
        arr = pa.concat_arrays([arr])
    return arr if arr.type == t else arr.cast(t)


def null_mask(arr: pa.Array) -> np.ndarray:
    """True == null."""
    if not arr.null_count:
        return np.zeros(len(arr), dtype=bool)
    return arr.is_null().to_numpy(zero_copy_only=False)


def mask_part(meta: dict, mask: np.ndarray) -> bytes:
    """The packed null mask that leads a block's payload (b"" when
    nothing is null); records ``has_null`` and ``mask_len`` in ``meta``
    for ``split_mask``."""
    meta["has_null"] = bool(mask.any())
    if not meta["has_null"]:
        return b""
    mb = pack_mask(mask)
    meta["mask_len"] = len(mb)
    return mb


def pack_mask(mask: np.ndarray) -> bytes:
    """Pack a boolean validity mask (True == null) into bits."""
    return np.packbits(mask.astype(np.uint8), bitorder="little").tobytes()


def unpack_mask(data: bytes, n: int) -> np.ndarray:
    if n == 0:
        return np.zeros(0, dtype=bool)
    bits = np.unpackbits(np.frombuffer(data, dtype=np.uint8), bitorder="little")
    return bits[:n].astype(bool)


def split_mask(meta: dict, payload: bytes, n: int) -> tuple[np.ndarray | None, bytes]:
    """(null mask or None, the rest of the payload) of a block whose meta
    records ``has_null`` and ``mask_len``: the packed mask leads the
    payload."""
    if not meta.get("has_null"):
        return None, payload
    ml = meta["mask_len"]
    return unpack_mask(payload[:ml], n), payload[ml:]


def validity_buffer(mask: np.ndarray | None) -> tuple[pa.Buffer | None, int]:
    """(Arrow validity bitmap, null count) of a null mask (True == null);
    (None, 0) when nothing is null."""
    if mask is None or not mask.any():
        return None, 0
    return pa.py_buffer(np.packbits(~mask, bitorder="little").tobytes()), int(mask.sum())


# ------------------------------------------------- bit-packed int arrays ----


def bitpack(values: np.ndarray, width: int) -> bytes:
    """Pack non-negative uint64 values into `width` bits each.

    Byte-identical layout to the original bit-matrix version, but the
    matrix is produced by ``np.unpackbits`` over the little-endian BYTE
    view of the values (n x 64 uint8 intermediate) instead of a
    ``(n, width)`` uint64 shift broadcast (n x width x 9 bytes) — ~9x
    less intermediate memory and C-speed bit twiddling, which matters
    because nested leaves multiply n by the list length.
    """
    n = len(values)
    if n == 0 or width == 0:
        return b""
    v = np.ascontiguousarray(values.astype(np.uint64, copy=False))
    if sys.byteorder != "little":  # pragma: no cover — x86/arm LE hosts
        v = v.byteswap()
    bits = np.unpackbits(v.view(np.uint8).reshape(n, 8), axis=1, bitorder="little")
    return np.packbits(bits[:, :width].reshape(-1), bitorder="little").tobytes()


def bitunpack(data: bytes, n: int, width: int) -> np.ndarray:
    if n == 0 or width == 0:
        return np.zeros(n, dtype=np.uint64)
    bits = np.unpackbits(np.frombuffer(data, dtype=np.uint8), bitorder="little")
    out = np.zeros((n, 64), dtype=np.uint8)
    out[:, :width] = bits[: n * width].reshape(n, width)
    packed = np.packbits(out.reshape(-1), bitorder="little").tobytes()
    arr = np.frombuffer(packed, dtype=np.uint64)
    if sys.byteorder != "little":  # pragma: no cover
        arr = arr.byteswap()
    return arr


def bit_width(max_value: int) -> int:
    """Bits needed to represent max_value (0 -> 0 bits)."""
    return int(max_value).bit_length()
