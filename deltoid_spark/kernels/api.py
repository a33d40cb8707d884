"""Uniform encode/decode dispatch over all framed codecs."""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa

from . import blocks, chain, floats, fsst, intcodec, mapdelta, nested, strings

STRING_CODECS = ("plain", "dict", "rle", "front", "hex", "fsst")


def encode_block(series, codec: str, **kw) -> bytes:
    """Encode one column with ``codec``.  A string codec takes any
    column form (pandas Series, Arrow array) and converts it once to
    the LargeStringArray every string encoder reads; the others take a
    ``pa.Array`` in its storage type (``decode_block`` lists them)."""
    if codec in STRING_CODECS:
        series = strings.as_large_utf8(series)
    if codec == "plain":
        return strings.encode_plain(series, **kw)
    if codec == "dict":
        return strings.encode_dict(series, **kw)
    if codec == "rle":
        return strings.encode_rle(series, **kw)
    if codec == "front":
        return strings.encode_front(series, **kw)
    if codec == "hex":
        return strings.encode_hex(series)
    if codec == "fsst":
        return fsst.encode_fsst(series, **kw)
    if codec == "for":
        return intcodec.encode_for(series)
    if codec == "dint":
        return intcodec.encode_dint(series)
    if codec == "fp":
        return floats.encode_fp(series, **kw)
    if codec == "chain":
        return chain.encode_chain(series, **kw)
    if codec == "mapdelta":
        return mapdelta.encode_mapdelta(series, **kw)
    if codec == "strlist":
        return mapdelta.encode_strlist(series, **kw)
    if codec == "nested":
        return nested.encode_nested(series, **kw)
    raise ValueError(f"unknown codec {codec!r}")


_DECODERS = {
    "plain": strings.decode_plain,
    "dict": strings.decode_dict,
    "rle": strings.decode_rle,
    "front": strings.decode_front,
    "hex": strings.decode_hex,
    "fsst": fsst.decode_fsst,
    "for": intcodec.decode_for,
    "dint": intcodec.decode_dint,
    "fp": floats.decode_fp,
    "chain": chain.decode_chain_arrow,
    "mapdelta": mapdelta.decode_mapdelta,
    "strlist": mapdelta.decode_strlist,
    "nested": nested.decode_nested_arrow,
}


def decode_block(buf: bytes, **kw) -> pa.Array:
    """Decode one block to a ``pa.Array`` in its storage type, nulls in
    the validity bitmap: ``large_utf8`` for the string codecs and chain,
    int64 for dint/for (timestamps as epoch ns, dates as epoch days,
    booleans as 0/1), float32/float64 for fp, a MapArray for mapdelta,
    a LargeListArray for strlist and the rebuilt tree for nested.
    ``kw`` goes to the decoder (chain: ``base_texts``, ``groups``)."""
    codec, meta, payload = blocks.unframe(buf)
    return _DECODERS[codec](meta, payload, **kw)


def sha256_column_arrow(arr, view: tuple | None = None) -> str:
    """Order-sensitive digest of a LargeStringArray (null-aware).

    One C-speed pass: hashes the null mask, the per-row byte lengths,
    and the concatenated utf-8 data straight from Arrow buffers — no
    per-row Python (the length prefix + mask make the digest injective
    over (values, nulls, boundaries)).  ``view`` lets callers reuse an
    already-computed ``strings.utf8_view`` (lengths, data) pair."""
    lengths, data = view if view is not None else strings.utf8_view(arr)
    h = hashlib.sha256()
    h.update(strings.null_mask(arr).astype(np.uint8).tobytes())
    h.update(lengths.astype("<i8").tobytes())
    h.update(data)
    return h.hexdigest()
