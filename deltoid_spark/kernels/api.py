"""Uniform encode/decode dispatch over all framed codecs."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from . import blocks, chain, floats, fsst, intcodec, mapdelta, nested, strings

STRING_CODECS = ("plain", "dict", "rle", "front", "hex", "fsst")


def encode_block(series, codec: str, **kw) -> bytes:
    """Encode one column with ``codec``.  A string codec takes any
    column form (pandas Series, Arrow array) and converts it once to
    the LargeStringArray every string encoder reads."""
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


def decode_block(buf: bytes, **kw) -> pd.Series:
    codec, meta, payload = blocks.unframe(buf)
    if codec == "chain" and kw:
        return chain.decode_chain(meta, payload, **kw)
    if codec == "plain":
        return strings.decode_plain(meta, payload)
    if codec == "dict":
        return strings.decode_dict(meta, payload)
    if codec == "rle":
        return strings.decode_rle(meta, payload)
    if codec == "front":
        return strings.decode_front(meta, payload)
    if codec == "hex":
        return strings.decode_hex(meta, payload)
    if codec == "fsst":
        return fsst.decode_fsst(meta, payload)
    if codec == "for":
        return intcodec.decode_for(meta, payload)
    if codec == "dint":
        return intcodec.decode_dint(meta, payload)
    if codec == "fp":
        return floats.decode_fp(meta, payload)
    if codec == "chain":
        return chain.decode_chain(meta, payload)
    if codec == "mapdelta":
        return mapdelta.decode_mapdelta(meta, payload)
    if codec == "strlist":
        return mapdelta.decode_strlist(meta, payload)
    if codec == "nested":
        return nested.decode_nested(meta, payload)
    raise ValueError(f"unknown codec {codec!r}")


def decode_block_arrow(buf: bytes, **kw):
    """Arrow-native decode for codecs with a zero-object path (chain,
    plain): returns a LargeStringArray (nulls in the validity bitmap)
    that crosses the Spark boundary without materializing Python
    strings.  Other codecs raise — callers fall back to decode_block.
    """
    codec, meta, payload = blocks.unframe(buf)
    if codec == "chain":
        return chain.decode_chain_arrow(meta, payload, **kw)
    if codec == "plain":  # kw (chain base_texts) is a no-op for plain
        arr, mask = strings.decode_plain_arrow(meta, payload)
        if mask is not None and mask.any():
            import pyarrow as pa

            idx = np.arange(len(arr), dtype=np.int64)
            return arr.take(pa.array(idx, mask=mask))
        return arr
    if codec == "nested":
        return nested.decode_nested_arrow(meta, payload)
    raise ValueError(f"no arrow decode path for codec {codec!r}")


def block_codec(buf: bytes) -> str:
    codec, _, _ = blocks.unframe(buf)
    return codec


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
