"""One record per column-type family: how a Spark column of that type is
stored, encoded, zone-mapped and filtered by ``decode(where=)`` — the
reference's per-type Delta impls from one macro (deltoid/src/core.rs:102-122).
Scalar widths and Arrow types come from ``kernels/nested``.  The content
column's chain route is chosen by role, not type: ``pipeline._encode_content``."""

from __future__ import annotations

import functools
from typing import Callable, NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyspark.sql.functions as F

from ..kernels import api, blocks, bloom, floats, mapdelta, nested, selector, strings


class ColType(NamedTuple):
    """A type family's rules.  ``storage`` maps Spark's Arrow column to the
    array its block decodes to; ``to_spark`` inverts it through ``via``.
    ``encode(arr, ddl, gsizes, keyframe_interval)`` gives (codec, bytes,
    raw bytes); ``zone(arr)`` fills the block columns ``zone_cols``.  A
    type ``where=`` supports maps a value to ``(typed, key)``
    (``where_value``: ``typed`` for the residual filter's ``literal``,
    ``key`` in zone-map space) and decoded storage to the keys the
    kernel's row filter compares plus a mask of rows always passed on
    to the residual filter, or None (``where_keys``)."""

    storage: Callable[[pa.Array, str], pa.Array]
    encode: Callable[[pa.Array, str, np.ndarray, int], tuple[str, bytes, int]]
    via: pa.DataType | None = None
    zone_cols: tuple[str, ...] = ()
    zone: Callable[[pa.Array], tuple] | None = None
    where_value: Callable[[object], tuple] | None = None
    where_keys: Callable[[pa.Array], tuple] = lambda a: (a, None)
    literal: Callable = F.lit


def _storage_type(ddl: str) -> pa.DataType:
    return nested.arrow_type(nested.parse_ddl(ddl))


@functools.cache
def spark_type(ddl: str) -> pa.DataType:
    """The Arrow type Spark's applyInArrow verifier expects for ``ddl``."""
    return nested.spark_arrow_type(nested.parse_ddl(ddl))


def _int_storage(arr: pa.Array, ddl: str) -> pa.Array:
    """The int family and boolean: int64 (booleans 0/1)."""
    if pa.types.is_floating(arr.type):
        # a float column handed in for an int one: values past 2^53
        # may already be rounded, so fail rather than corrupt
        # silently (ADVICE r02); a fractional value fails the cast
        big = pc.max(pc.abs(arr)).as_py()
        if big is not None and big >= float(2**53):
            raise ValueError(
                f"int column ({ddl}) arrived as {arr.type} with |v| >= 2^53; "
                "exact round-trip is not provable — pass an exact integer type"
            )
    return arr.cast(pa.int64())


def _timestamp_storage(arr: pa.Array, ddl: str) -> pa.Array:
    """The epoch-ns UTC instant."""
    scale = {"s": 10**9, "ms": 10**6, "us": 10**3, "ns": 1}[arr.type.unit]
    v = arr.cast(pa.int64()).fill_null(0).to_numpy()
    lim = np.iinfo(np.int64).max // scale
    far = (v > lim) | (v < -lim)
    if far.any():
        raise ValueError(
            f"timestamp column holds {int(far.sum())} value(s) outside the epoch-ns "
            f"range, years 1677-2262 (first: {arr[int(np.flatnonzero(far)[0])].as_py()})"
        )
    ns = v * scale
    # Spark timestamps are whole microseconds: a finer value could
    # be stored but never cast back (to_spark), so refuse it
    frac = ns % 1000 != 0
    if frac.any():
        raise ValueError(
            f"timestamp column holds {int(frac.sum())} sub-microsecond value(s) "
            f"(first: {int(ns[frac][0])} epoch ns); Spark timestamps are whole "
            "microseconds"
        )
    return pa.array(ns, mask=strings.null_mask(arr))


def _date_storage(arr: pa.Array, ddl: str) -> pa.Array:
    """Epoch days, without pandas: every date from 0001 to 9999 fits."""
    return arr.cast(pa.date32()).cast(pa.int32()).cast(pa.int64())


def _float_storage(arr: pa.Array, ddl: str) -> pa.Array:
    """A top-level NaN becomes null, so NaN and null share one mask bit
    (see ``kernels/floats``) and one sort position."""
    arr = arr.cast(_storage_type(ddl))
    return pc.if_else(pc.is_nan(arr), pa.scalar(None, arr.type), arr)


def _select_string(arr, ddl, gsizes, keyframe_interval):
    codec, _stats, buf = selector.select_and_encode(arr)
    return codec, buf, int(strings.utf8_view(arr)[0].sum())


def _int_zone(arr: pa.Array) -> tuple:
    """(zmin, zmax) of the int64 storage values, nulls excluded."""
    mm = pc.min_max(arr)
    return mm["min"].as_py(), mm["max"].as_py()


def _float_sortable(a: np.ndarray) -> np.ndarray:
    """IEEE-754 doubles -> int64s whose SIGNED order is the floats'
    numeric order: non-negatives keep their bits, negatives flip their
    low 63 bits.  Float zones share the (zmin, zmax) long columns."""
    v = a.view(np.int64)
    return v ^ ((v >> 63) & np.int64(0x7FFFFFFFFFFFFFFF))


def _float_keys(a: np.ndarray) -> np.ndarray:
    """Float zone-space keys of zone maps and where= bounds.  -0.0
    becomes +0.0 first: they compare equal, so a block whose max is
    -0.0 must not be pruned by where=(col, 0.0, None)."""
    return _float_sortable(np.where(a == 0.0, 0.0, a))


def _float_zone(arr: pa.Array) -> tuple[int | None, int | None]:
    """(zmin, zmax) in sortable-int64 space, NaNs and nulls excluded: an
    all-NaN/null block stays unprunable."""
    a = np.asarray(arr.to_numpy(zero_copy_only=False), dtype=np.float64)
    a = a[~np.isnan(a)]
    if len(a) == 0:
        return None, None
    st = _float_keys(a)
    return int(st.min()), int(st.max())


_SZONE_PREFIX = 64


def _string_zone(arr: pa.Array) -> tuple[str | None, str | None]:
    """(smin, smax) zone bounds for a string column, or None when a
    bound can't be recorded safely.

    Collation safety: Spark 4's default UTF8_BINARY collation compares
    UTF-8 bytes, whose order equals code-point order — the order Arrow's
    min_max and Python string comparison use too, for every valid string
    (test_string_zone_collation_adversarial), so any string, non-ASCII
    included, gets bounds.  A session whose default collation is not
    binary makes ``decode`` drop string pruning at runtime.

    Bounded metadata: values truncate to a 64-code-point prefix.  A
    prefix of the min is still a lower bound; for the max the last
    incrementable code point of the prefix is bumped (skipping the
    surrogate gap [U+D800, U+DFFF]); if every position is U+10FFFF the
    bound drops to null (unprunable side).
    """
    if len(arr) == 0 or arr.null_count == len(arr):
        return None, None
    mm = pc.min_max(arr)
    lo, hi = mm["min"].as_py(), mm["max"].as_py()

    def _bound(v: str, is_max: bool) -> str | None:
        if len(v) <= _SZONE_PREFIX:
            return v
        p = v[:_SZONE_PREFIX]
        if not is_max:
            return p
        for i in range(len(p) - 1, -1, -1):
            c = ord(p[i])
            if c < 0x10FFFF:
                nc = c + 1
                if 0xD800 <= nc <= 0xDFFF:
                    nc = 0xE000
                return p[:i] + chr(nc)
        return None

    return _bound(lo, False), _bound(hi, True)


def _string_bounds(arr: pa.Array) -> tuple:
    """Zones answer ranges; the Bloom filter answers point probes."""
    return (*_string_zone(arr), bloom.bloom_build(arr))


def _bool_value(v) -> tuple:
    """True/False, 0/1, or the CLI's raw text "true"/"false"."""
    b = {"true": 1, "false": 0}.get(v.lower()) if isinstance(v, str) else v
    if b not in (0, 1):
        raise ValueError(f"a boolean where value is true/false or 1/0, got {v!r}")
    return bool(b), int(b)


def _timestamp_value(v) -> tuple:
    # the residual filter compares with a microsecond literal, so the
    # key is that literal's epoch ns, not the finer value's
    t = pd.Timestamp(v).to_pydatetime()
    return t, int(pd.Timestamp(t).value)


def _date_value(v) -> tuple:
    d = pa.array(np.array([v], dtype="datetime64[D]"))
    return d[0].as_py(), _date_storage(d, "date")[0].as_py()


def _float_value(v) -> tuple:
    f = float(v)
    return f, int(_float_keys(np.array([f], dtype=np.float64))[0])


def _float_where_keys(a: pa.Array) -> tuple:
    v = np.asarray(a.to_numpy(zero_copy_only=False), dtype=np.float64)
    nan = np.isnan(v)  # NaN and null: left to the residual filter
    return pa.array(_float_keys(np.where(nan, 0.0, v))), nan


def _tree_storage(arr: pa.Array, ddl: str) -> pa.Array:
    return blocks.as_type(arr, _storage_type(ddl))


_INT_RULES = dict(
    encode=lambda arr, ddl, *_: (
        "dint", api.encode_block(arr, "dint"), nested.WIDTHS[ddl] * len(arr)
    ),
    zone_cols=("zmin", "zmax"), zone=_int_zone,
)
STRING = ColType(
    lambda arr, ddl: strings.as_large_utf8(arr), _select_string,
    zone_cols=("smin", "smax", "bloom"), zone=_string_bounds,
    where_value=lambda v: (str(v), str(v)),
)
INT = ColType(_int_storage, where_value=lambda v: (int(v), int(v)), **_INT_RULES)
BOOLEAN = ColType(_int_storage, where_value=_bool_value, **_INT_RULES)
TIMESTAMP = ColType(
    _timestamp_storage, via=pa.timestamp("ns"), where_value=_timestamp_value, **_INT_RULES
)
DATE = ColType(
    _date_storage, via=pa.int32(), where_value=_date_value, **_INT_RULES,
    # PySpark builds a date literal through strftime, which drops the
    # zero padding of a year before 1000: go through ISO text
    literal=lambda d: F.lit(d.isoformat()).cast("date"),
)
FLOAT = ColType(
    _float_storage,
    lambda arr, ddl, *_: (
        "fp", floats.encode_fp(arr, width=nested.WIDTHS[ddl]), nested.WIDTHS[ddl] * len(arr)
    ),
    zone_cols=("zmin", "zmax"), zone=_float_zone,
    where_value=_float_value, where_keys=_float_where_keys,
)
STRLIST = ColType(_tree_storage, lambda arr, ddl, *_: (
    "strlist", mapdelta.encode_strlist(arr), mapdelta.strlist_raw_bytes(arr)
))
# keyed Add/Edit/Remove chains over the content column's group layout
# (reference HashMap::delta, hashmap.rs:57-85)
MAPDELTA = ColType(_tree_storage, lambda arr, ddl, gsizes, keyframe_interval: (
    "mapdelta", mapdelta.encode_mapdelta(arr, gsizes, keyframe_interval=keyframe_interval),
    mapdelta.map_raw_bytes(arr),
))
# every other struct/array/map tree: per-field leaf kernels (reference
# derive gen/mod.rs:423-430)
NESTED = ColType(_tree_storage, lambda arr, ddl, *_: (
    "nested", nested.encode_nested(arr, ddl), nested.nested_raw_bytes(arr, ddl)
))

_BY_DDL = {
    "string": STRING, "bigint": INT, "int": INT, "smallint": INT, "tinyint": INT,
    "boolean": BOOLEAN, "timestamp": TIMESTAMP, "date": DATE, "float": FLOAT,
    "double": FLOAT, "array<string>": STRLIST, "map<string,string>": MAPDELTA,
}
SCALARS = sorted(nested.WIDTHS.keys() | {"string"})


def of(ddl: str) -> ColType:
    """The record for a Spark ``simpleString`` type; any other tree over
    the scalars is NESTED.  Raises ValueError for a type not held."""
    ct = _BY_DDL.get(ddl)
    if ct is None:
        nested.parse_ddl(ddl)
        ct = NESTED
    return ct


def storage(arr: pa.Array | pa.ChunkedArray, ddl: str) -> pa.Array:
    """A column as Spark's Arrow batch types it -> its storage array, which
    key ids, the sort, zone maps and every encoder read."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    return of(ddl).storage(arr, ddl)


def to_spark(arr: pa.Array, ddl: str) -> pa.Array:
    """A decoded storage array -> the Arrow array Spark reads for ``ddl``
    (timestamps: epoch ns reinterpreted as UTC microseconds)."""
    via = of(ddl).via
    return (arr if via is None else arr.cast(via)).cast(spark_type(ddl))
