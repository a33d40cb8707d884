"""NESTED codec: recursive per-field encoding for struct / array / map
columns of arbitrary depth.

Reference basis: deltoid's derive macro recurses into every user struct
field, giving each its own ``Delta`` impl
(/root/reference/deltoid-derive/src/gen/mod.rs:423-430, exercised by the
nested round-trip test deltoid-derive/tests/delta.rs:351-394).  The
columnar realization: a nested column is a tree of Arrow arrays; every
LEAF routes to the same scalar kernel its top-level counterpart would
use (strings -> PLAIN+zstd, int/bool/timestamp/date -> FoR+bit-pack via
``pack_ints_z``, float/double -> FP lanes), every interior node stores
only its validity bitmap and (for list/map) its FoR-packed lengths.
Encode and decode are pure Arrow buffer walks — zero per-row Python —
and the decode rebuilds the exact original arrays (entry order of maps
included), so round-trips are bit-identical and byte-deterministic.

Wire layout: the block meta carries the DDL string and a recursive meta
tree mirroring the type tree; the payload is the depth-first
concatenation of each node's parts.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from . import blocks
from .intcodec import pack_dint_z, pack_ints_z, unpack_dint_z, unpack_ints_z

_SCALAR_ARROW = {
    "string": pa.large_utf8(),
    "bigint": pa.int64(),
    "int": pa.int32(),
    "smallint": pa.int16(),
    "tinyint": pa.int8(),
    "boolean": pa.bool_(),
    "float": pa.float32(),
    "double": pa.float64(),
    "timestamp": pa.timestamp("us"),
    "date": pa.date32(),
}
_INT_LIKE = {"bigint", "int", "smallint", "tinyint", "boolean", "timestamp", "date"}
# logical bytes per scalar value (raw-size accounting; jobs/coltypes too)
WIDTHS = {
    "bigint": 8, "int": 4, "smallint": 2, "tinyint": 1, "boolean": 1,
    "timestamp": 8, "date": 4, "float": 4, "double": 8,
}


# ------------------------------------------------------------ DDL parser ----


def parse_ddl(ddl: str):
    """Parse a Spark ``simpleString`` DDL into a type tree.

    Nodes: ("scalar", name) | ("array", elem) | ("map", key, value) |
    ("struct", [(field_name, node), ...]).  Raises ValueError on
    anything unsupported.
    """
    node, pos = _parse(ddl, 0)
    if pos != len(ddl):
        raise ValueError(f"trailing characters in ddl {ddl!r}")
    return node


def _parse(s: str, i: int):
    for name in _SCALAR_ARROW:
        if s.startswith(name, i):
            # longest-match guard: "int" must not eat "interval..."
            j = i + len(name)
            if j == len(s) or s[j] in ",<>:":
                return ("scalar", name), j
    if s.startswith("array<", i):
        elem, j = _parse(s, i + 6)
        if j >= len(s) or s[j] != ">":
            raise ValueError(f"unterminated array<> in {s!r}")
        return ("array", elem), j + 1
    if s.startswith("map<", i):
        key, j = _parse(s, i + 4)
        if key[0] != "scalar":
            raise ValueError(f"map keys must be scalar in {s!r}")
        if j >= len(s) or s[j] != ",":
            raise ValueError(f"malformed map<> in {s!r}")
        val, j = _parse(s, j + 1)
        if j >= len(s) or s[j] != ">":
            raise ValueError(f"unterminated map<> in {s!r}")
        return ("map", key, val), j + 1
    if s.startswith("struct<", i):
        fields = []
        j = i + 7
        if j < len(s) and s[j] == ">":  # struct<> (empty)
            return ("struct", fields), j + 1
        while True:
            colon = s.find(":", j)
            if colon < 0:
                raise ValueError(f"malformed struct field in {s!r}")
            fname = s[j:colon]
            node, j = _parse(s, colon + 1)
            fields.append((fname, node))
            if j < len(s) and s[j] == ",":
                j += 1
                continue
            if j < len(s) and s[j] == ">":
                return ("struct", fields), j + 1
            raise ValueError(f"unterminated struct<> in {s!r}")
    raise ValueError(f"unsupported type at {s[i:]!r} in ddl {s!r}")


def arrow_type(node) -> pa.DataType:
    kind = node[0]
    if kind == "scalar":
        return _SCALAR_ARROW[node[1]]
    if kind == "array":
        return pa.large_list(arrow_type(node[1]))
    if kind == "map":
        return pa.map_(arrow_type(node[1]), arrow_type(node[2]))
    return pa.struct([(f, arrow_type(t)) for f, t in node[1]])


def is_supported_ddl(ddl: str) -> bool:
    try:
        parse_ddl(ddl)
        return True
    except ValueError:
        return False


# --------------------------------------------------------------- encode ----


def _try_decimal_leaf(vals: np.ndarray) -> tuple[dict, bytes] | None:
    """ALP pseudo-decimal for a nested double leaf (same idea, probe,
    and exactness argument as kernels/floats.encode_fp): scaled int64s
    (DINT-packed) + an exception list for non-conforming values.
    Returns (meta_fields, payload) or None when the leaf isn't
    decimal.  Exactness: decode divides by the binary-exact 10^e the
    encode-side check used, so conforming values round-trip
    bit-for-bit; NaN/inf/-0.0 ride the exception list verbatim."""
    from .floats import _decimal_probe

    probe = _decimal_probe(vals, np.zeros(len(vals), dtype=bool))
    if probe is None:
        return None
    e, ok = probe
    d = np.zeros(len(vals), dtype=np.int64)
    with np.errstate(invalid="ignore", over="ignore"):
        d[ok] = np.round(vals[ok] * (10.0 ** e)).astype(np.int64)
    exc_pos = np.flatnonzero(~ok)
    imeta, ipay = pack_dint_z(d)
    pmeta, ppay = pack_ints_z(exc_pos)
    exc_raw = vals[exc_pos].tobytes()
    meta = {
        "e10": e, "di": imeta, "dlen": len(ipay),
        "ep": pmeta, "eplen": len(ppay), "nexc": len(exc_pos),
    }
    return meta, ipay + ppay + exc_raw


def _decode_decimal_leaf(meta: dict, payload: bytes) -> np.ndarray:
    d = unpack_dint_z(meta["di"], payload[: meta["dlen"]])
    payload = payload[meta["dlen"]:]
    exc_pos = unpack_ints_z(meta["ep"], payload[: meta["eplen"]])
    payload = payload[meta["eplen"]:]
    vals = d.astype(np.float64) / (10.0 ** meta["e10"])
    if meta["nexc"]:
        vals[exc_pos] = np.frombuffer(payload, dtype=np.float64, count=meta["nexc"])
    return vals


def _enc(arr: pa.Array, node, parts: list[bytes]) -> dict:
    """Depth-first encode; appends payload chunks, returns meta tree."""
    arr = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
    kind = node[0]
    meta: dict = {"k": kind, "n": len(arr)}
    parts.append(blocks.mask_part(meta, blocks.null_mask(arr)))
    if kind == "scalar":
        st = node[1]
        meta["t"] = st
        if st == "string":
            from .strings import encode_plain

            block = encode_plain(arr)
            meta["len"] = len(block)
            parts.append(block)
        elif st in _INT_LIKE:
            if st == "timestamp":
                ints = arr.fill_null(0).cast(pa.int64()).to_numpy()
            elif st == "date":
                ints = arr.fill_null(0).cast(pa.int32()).to_numpy().astype(np.int64)
            elif st == "boolean":
                ints = arr.fill_null(False).to_numpy(zero_copy_only=False).astype(np.int64)
            else:
                ints = arr.fill_null(0).to_numpy().astype(np.int64)
            # DINT best-of {FoR, delta, delta-of-delta}: nested
            # timestamp/id leaves are exactly the regular sequences the
            # delta family wins on (see intcodec.encode_dint)
            imeta, ipay = pack_dint_z(ints)
            meta["i"] = imeta
            meta["len"] = len(ipay)
            parts.append(ipay)
        else:  # float / double
            np_dt = np.float32 if st == "float" else np.float64
            vals = arr.fill_null(0.0).to_numpy().astype(np_dt, copy=False)
            raw = vals.tobytes()
            comp = blocks.compress(raw)
            if st == "double":
                dec = _try_decimal_leaf(vals)
                if dec is not None and len(dec[1]) < len(comp):
                    dmeta, dpay = dec
                    meta.update(dmeta)
                    meta["len"] = len(dpay)
                    parts.append(dpay)
                    return meta
            meta["raw"] = len(raw)
            meta["len"] = len(comp)
            parts.append(comp)
        return meta
    if kind == "array":
        lengths = pc.list_value_length(arr).cast(pa.int64())
        lmeta, lpay = pack_ints_z(lengths.fill_null(0).to_numpy())
        meta["lens"] = lmeta
        meta["len"] = len(lpay)
        parts.append(lpay)
        meta["child"] = _enc(arr.flatten(), node[1], parts)
        return meta
    if kind == "map":
        offs = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
        lmeta, lpay = pack_ints_z(np.diff(offs) if len(arr) else np.zeros(0, np.int64))
        meta["lens"] = lmeta
        meta["len"] = len(lpay)
        parts.append(lpay)
        meta["keys"] = _enc(arr.keys, node[1], parts)
        meta["items"] = _enc(arr.items, node[2], parts)
        return meta
    # struct
    meta["fields"] = [
        _enc(arr.field(idx), ftype, parts)
        for idx, (_fname, ftype) in enumerate(node[1])
    ]
    return meta


def _input_arrow(arr: pa.Array, node) -> pa.Array:
    """A column (as Spark's Arrow batch types it, or already in storage
    form) -> the codec's internal tree, ``arrow_type(node)``: utf8 and
    list become their large types and UTC timestamps naive ones, a
    cast that shares the leaf buffers.  No Python object is built, and
    a float NaN inside a nested double leaf stays a VALUE, distinct
    from null — Spark treats NaN as a value (round-6 fix)."""
    return blocks.as_type(arr, arrow_type(node))


def encode_nested(arr: pa.Array, ddl: str) -> bytes:
    node = parse_ddl(ddl)
    arr = _input_arrow(arr, node)
    parts: list[bytes] = []
    tree = _enc(arr, node, parts)
    meta = {"ddl": ddl, "tree": tree}
    return blocks.frame("nested", meta, b"".join(parts))


def nested_raw_bytes(arr: pa.Array, ddl: str) -> int:
    """Uncompressed-size proxy: leaf strings' utf-8 bytes + fixed widths."""
    node = parse_ddl(ddl)
    arr = _input_arrow(arr, node)

    def walk(a: pa.Array, nd) -> int:
        a = a.combine_chunks() if isinstance(a, pa.ChunkedArray) else a
        kind = nd[0]
        if kind == "scalar":
            if nd[1] == "string":
                if len(a) == 0:
                    return 0
                return int(
                    pc.sum(pc.binary_length(a.cast(pa.large_binary()))).as_py() or 0
                )
            return WIDTHS[nd[1]] * len(a)
        if kind == "array":
            return 8 * len(a) + walk(a.flatten(), nd[1])
        if kind == "map":
            return 8 * len(a) + walk(a.keys, nd[1]) + walk(a.items, nd[2])
        return sum(
            walk(a.field(i), t) for i, (_f, t) in enumerate(nd[1])
        )

    return walk(arr, node)


# --------------------------------------------------------------- decode ----


def _validity_buffer(meta: dict, payload: bytes, n: int, p: int):
    """(validity pa.Buffer or None, null_count, new cursor)."""
    if not meta.get("has_null"):
        return None, 0, p
    ml = meta["mask_len"]
    mask = blocks.unpack_mask(payload[p : p + ml], n)
    valid = np.packbits(~mask, bitorder="little")
    return pa.py_buffer(valid.tobytes()), int(mask.sum()), p + ml


def _dec(meta: dict, node, payload: bytes, p: int) -> tuple[pa.Array, int]:
    kind = meta["k"]
    n = meta["n"]
    validity, nulls, p = _validity_buffer(meta, payload, n, p)
    if kind == "scalar":
        st = meta["t"]
        atype = _SCALAR_ARROW[st]
        if st == "string":
            from .strings import decode_plain

            _codec, imeta, ipay = blocks.unframe(payload[p : p + meta["len"]])
            p += meta["len"]
            bufs = decode_plain(imeta, ipay).buffers()
            out = pa.Array.from_buffers(
                pa.large_utf8(), n, [validity, bufs[1], bufs[2]], null_count=nulls
            )
            return out, p
        if st in _INT_LIKE:
            ints = unpack_dint_z(meta["i"], payload[p : p + meta["len"]])
            p += meta["len"]
            if st == "boolean":
                data = pa.py_buffer(
                    np.packbits(ints.astype(bool), bitorder="little").tobytes()
                )
            elif st in ("int", "date"):
                data = pa.py_buffer(ints.astype(np.int32).tobytes())
            elif st == "smallint":
                data = pa.py_buffer(ints.astype(np.int16).tobytes())
            elif st == "tinyint":
                data = pa.py_buffer(ints.astype(np.int8).tobytes())
            else:  # bigint, timestamp
                data = pa.py_buffer(ints.astype(np.int64).tobytes())
            return pa.Array.from_buffers(atype, n, [validity, data], null_count=nulls), p
        # float / double
        if "e10" in meta:  # ALP pseudo-decimal leaf (doubles only)
            vals = _decode_decimal_leaf(meta, payload[p : p + meta["len"]])
            p += meta["len"]
            return (
                pa.Array.from_buffers(
                    atype, n, [validity, pa.py_buffer(vals.tobytes())],
                    null_count=nulls,
                ),
                p,
            )
        raw = blocks.decompress(payload[p : p + meta["len"]], meta["raw"])
        p += meta["len"]
        return pa.Array.from_buffers(atype, n, [validity, pa.py_buffer(raw)], null_count=nulls), p
    if kind == "array":
        lengths = unpack_ints_z(meta["lens"], payload[p : p + meta["len"]])
        p += meta["len"]
        child, p = _dec(meta["child"], node[1], payload, p)
        offs = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(lengths, out=offs[1:])
        out = pa.Array.from_buffers(
            pa.large_list(arrow_type(node[1])), n,
            [validity, pa.py_buffer(offs.tobytes())],
            null_count=nulls, children=[child],
        )
        return out, p
    if kind == "map":
        lengths = unpack_ints_z(meta["lens"], payload[p : p + meta["len"]])
        p += meta["len"]
        keys, p = _dec(meta["keys"], node[1], payload, p)
        items, p = _dec(meta["items"], node[2], payload, p)
        offs = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(lengths, out=offs[1:])
        mtype = pa.map_(arrow_type(node[1]), arrow_type(node[2]))
        # the entries struct must carry the map type's exact field
        # metadata (key is non-nullable) or arrow's invariants trip
        entries = pa.StructArray.from_arrays(
            [keys, items], fields=[mtype.key_field, mtype.item_field]
        )
        out = pa.Array.from_buffers(
            mtype, n,
            [validity, pa.py_buffer(offs.astype(np.int32).tobytes())],
            null_count=nulls, children=[entries],
        )
        return out, p
    # struct
    children = []
    for fmeta, (_fname, ftype) in zip(meta["fields"], node[1]):
        child, p = _dec(fmeta, ftype, payload, p)
        children.append(child)
    out = pa.Array.from_buffers(
        arrow_type(node), n, [validity], null_count=nulls, children=children
    )
    return out, p


def spark_arrow_type(node) -> pa.DataType:
    """The non-large Arrow type Spark's arrow serializer expects for
    this node (utf8/list_, not large_utf8/large_utf8; timestamps
    tz-aware UTC — storage is UTC-epoch micros, so the cast is a
    reinterpretation, not a shift)."""
    kind = node[0]
    if kind == "scalar":
        if node[1] == "timestamp":
            return pa.timestamp("us", tz="UTC")
        t = _SCALAR_ARROW[node[1]]
        return pa.utf8() if t == pa.large_utf8() else t
    if kind == "array":
        return pa.list_(spark_arrow_type(node[1]))
    if kind == "map":
        return pa.map_(spark_arrow_type(node[1]), spark_arrow_type(node[2]))
    return pa.struct([(f, spark_arrow_type(t)) for f, t in node[1]])


def decode_nested_arrow(meta: dict, payload: bytes) -> pa.Array:
    """The rebuilt tree in its storage type (``arrow_type``: large
    strings and lists, naive timestamps).  The decode job casts it to
    ``spark_arrow_type`` at the applyInArrow boundary.  Staying in Arrow
    builds no Python list or dict and keeps NaN inside float leaves a
    VALUE, distinct from null."""
    node = parse_ddl(meta["ddl"])
    return _dec(meta["tree"], node, payload, 0)[0]
