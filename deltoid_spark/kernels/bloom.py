"""Per-block Bloom filters for string point lookups.

Zone maps (A13 range pushdown, ``jobs/coltypes._string_zone``) prune
range predicates well, but equality probes through HASH-LIKE columns
(``commit``, ``path``) barely prune: a block's [smin, smax] spans most
of the value space when the column isn't clustered, so
``decode(where=(col, v, v))`` used to scan nearly every partition.
Reference basis: the same A13 "all-or-nothing Range" semantics
(range.rs) — realized here as the standard lakehouse-format companion
structure for point predicates (Parquet/ORC/Delta all pair min/max
zones with Bloom filters for exactly this reason).

Correctness is never delegated to the filter: pruning drops only
partitions whose filter PROVES absence (no false negatives by
construction), and the decode-side residual row filter restores exact
semantics for everything that survives, so hash quality affects prune
rate only.  That also means the hash needs no cross-engine parity —
it is pinned purely for byte-determinism of the block table: a
vectorized FNV-1a-64 over the first ``_HASH_BYTES`` utf-8 bytes with
the full length mixed in (values sharing a 64-byte prefix AND length
collide — an FPR nudge, never a correctness issue), computed for a
whole block as numpy column sweeps over a padded byte matrix built
straight from the Arrow buffers (~30 ms per 20 k distinct values; the
per-value md5 formulation cost ~120 ms).

Sizing: ~10 bits per DISTINCT key, k=4 probes (FPR ~1%), clamped to
[1 Ki, 256 Ki] bits -> at most 32 KiB of metadata per (partition,
column); at 100 TB with >= 100 MB partitions that is <= ~0.06% of data
size.  Filters never reach the driver: decode's one prune pass
(``jobs/pipeline._where_hits``) probes them as a JVM expression over
the blocks DataFrame, together with the zone test of the same block,
and collects only the partitions-sized hit list.  The driver hashes
the probe values once (``probe_positions``); each block tests those
bit positions masked to its own filter size, with no Python stage.
Low-cardinality columns (repo, lang; <= 64 distincts) skip the filter
— their zone maps and dictionary blocks already answer point probes.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

BLOOM_K = 4
_BITS_PER_KEY = 10
_MIN_BITS = 1 << 10
# 256 Ki bits = 32 KiB cap: holds ~26 k distinct keys at 10 bits/key
# (a full default-target block of unique commits) at ~0.5-1% FPR;
# beyond that FPR degrades gracefully, never correctness
_MAX_BITS = 1 << 18
_MIN_DISTINCT = 65  # <= 64 distincts: zones + DICT already cover probes
_HASH_BYTES = 64

_FNV_OFFSET = np.uint64(0xCBF29CE484222325)
_FNV_PRIME = np.uint64(0x100000001B3)
_SEED2 = np.uint64(0x9E3779B97F4A7C15)  # decorrelates the second stream


def _fnv_pair_matrix(mat: np.ndarray, lens: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(n, _HASH_BYTES) padded byte matrix + true lengths ->
    (h1, h2) uint64 vectors.  Column sweep: one multiply/xor pair per
    byte position, all values in parallel; pad bytes are skipped by
    masking so 'ab' and 'ab\\x00' stay distinct, and the full length is
    mixed in last so truncated 64-byte prefixes of different lengths
    still separate."""
    h1 = np.full(len(mat), _FNV_OFFSET, dtype=np.uint64)
    h2 = np.full(len(mat), _FNV_OFFSET ^ _SEED2, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for j in range(min(_HASH_BYTES, int(lens.max(initial=0)))):
            live = lens > j
            b = mat[:, j].astype(np.uint64)
            h1 = np.where(live, (h1 ^ b) * _FNV_PRIME, h1)
            h2 = np.where(live, (h2 ^ (b + np.uint64(1))) * _FNV_PRIME, h2)
        ln = lens.astype(np.uint64)
        h1 = (h1 ^ ln) * _FNV_PRIME
        h2 = (h2 ^ (ln + np.uint64(1))) * _FNV_PRIME
    return h1, h2 | np.uint64(1)  # odd stride -> full period mod 2^k bits


def _byte_matrix(values: list[bytes]) -> tuple[np.ndarray, np.ndarray]:
    lens = np.fromiter((len(v) for v in values), dtype=np.int64, count=len(values))
    mat = np.zeros((len(values), _HASH_BYTES), dtype=np.uint8)
    for i, v in enumerate(values):
        b = v[:_HASH_BYTES]
        mat[i, : len(b)] = np.frombuffer(b, dtype=np.uint8)
    return mat, lens


def _byte_matrix_arrow(uniq: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """Padded (n, _HASH_BYTES) byte matrix straight from a
    large_binary Array's offset/data buffers — one numpy gather, no
    per-value python.  Pad cells hold NEIGHBOR-value bytes, not zeros:
    ``_fnv_pair_matrix`` masks every position >= the true length, so
    pad content never reaches the hash — skipping the zeroing multiply
    and the per-cell clamp saves two (n, 64) passes on this
    bandwidth-bound host (encode-kernel profile: this function was 14%
    of single-thread encode wall)."""
    uniq = uniq.combine_chunks() if isinstance(uniq, pa.ChunkedArray) else uniq
    bufs = uniq.buffers()
    off = np.frombuffer(bufs[1], dtype=np.int64)[
        uniq.offset : uniq.offset + len(uniq) + 1
    ]
    data = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None else np.zeros(0, np.uint8)
    lens = np.diff(off)
    # one tail pad keeps the LAST value's overhanging gather in bounds;
    # int32 indices halve the gather-index traffic (block data buffers
    # are far below 2^31 bytes)
    data = np.concatenate([data, np.zeros(_HASH_BYTES, dtype=np.uint8)])
    cols = np.arange(_HASH_BYTES, dtype=np.int32)
    idx = off[:-1, None].astype(np.int32) + cols[None, :]
    return data[idx], lens


def _positions_vec(h1: np.ndarray, h2: np.ndarray, m_bits: int) -> np.ndarray:
    ks = np.arange(BLOOM_K, dtype=np.uint64)
    with np.errstate(over="ignore"):
        return ((h1[:, None] + ks[None, :] * h2[:, None]) % np.uint64(m_bits)).astype(
            np.int64
        )


def bloom_build(arr: pa.Array) -> bytes | None:
    """Bloom bytes for a string Arrow array, or None when the column
    is too low-cardinality to be worth 1-32 KiB of metadata."""
    import pyarrow.compute as pc

    if len(arr) == 0:
        return None
    vals = arr.drop_null()
    if len(vals) == 0:
        return None
    # distinct in Arrow space (binary-keyed C hash kernel — embedded
    # NUL bytes count as distinct, unlike C-string keyed tables)
    distinct = pc.unique(vals.cast(pa.large_binary()))
    if len(distinct) < _MIN_DISTINCT:
        return None
    m_bits = min(
        _MAX_BITS,
        max(_MIN_BITS, 1 << int(len(distinct) * _BITS_PER_KEY - 1).bit_length()),
    )
    mat, lens = _byte_matrix_arrow(distinct)
    h1, h2 = _fnv_pair_matrix(mat, lens)
    bits = np.zeros(m_bits, dtype=bool)
    bits[_positions_vec(h1, h2, m_bits).reshape(-1)] = True
    return np.packbits(bits, bitorder="little").tobytes()


def probe_positions(values: list[str]) -> np.ndarray:
    """(len(values), BLOOM_K) bit positions of each value, modulo
    ``_MAX_BITS``.  Every filter's size is a power of two no larger
    than ``_MAX_BITS``, so ``pos & (m_bits - 1)`` is the position inside
    a filter of ``m_bits`` bits: one hash sweep serves every block."""
    mat, lens = _byte_matrix([v.encode("utf-8") for v in values])
    h1, h2 = _fnv_pair_matrix(mat, lens)
    return _positions_vec(h1, h2, _MAX_BITS)
