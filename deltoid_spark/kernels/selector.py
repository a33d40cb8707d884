"""Per-column codec auto-selector.

The reference dispatches statically by type (``<T as Core>::Delta``,
/root/reference/deltoid/src/core.rs:9-13); our dynamic analog samples
column statistics (distinct ratio, mean run length, avg length, byte
entropy, hex-ness — north_rule "codec auto-selection") to shortlist
candidates, then trial-encodes a deterministic sample and picks the
smallest output.  Trial-encode on a sample keeps the choice honest
(estimated-size formulas drift; measured bytes don't) while bounding
cost: the sample is capped, the full encode runs once with the winner.
The column is a LargeStringArray throughout (a pandas Series converts
once at entry); samples are Arrow slices of it.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from . import api, strings

SAMPLE_ROWS = 1024


def _contiguous_sample(arr: pa.Array, sample_rows: int) -> pa.Array:
    """~sample_rows drawn as 4 CONTIGUOUS chunks spread over the column.

    A strided sample (every n/1024-th row) destroys exactly the
    structure the run codecs exploit — at real block sizes it made RLE
    look like PLAIN on a column of 4-long runs and hid every shared
    prefix from FRONT, so the trial systematically mis-picked for
    clustered columns (measured: path blocks 2x oversized).  Contiguous
    chunks keep runs and neighbor prefixes intact; four of them spread
    chunk-boundary artifacts (3 artificial run breaks) and still span
    the block for cardinality/entropy."""
    n = len(arr)
    if n <= sample_rows:
        return arr
    k = 4
    chunk = sample_rows // k
    starts = [round(i * (n - chunk) / (k - 1)) for i in range(k)]
    return pa.concat_arrays([arr.slice(s, chunk) for s in starts])


def _pairs(arr: pa.Array, op) -> int:
    """How many consecutive pairs (arr[i], arr[i+1]) satisfy ``op``."""
    if len(arr) < 2:
        return 0
    return int(pc.sum(op(arr.slice(1), arr.slice(0, len(arr) - 1))).as_py())


def column_stats(values, sample_rows: int = SAMPLE_ROWS) -> dict:
    arr = strings.as_large_utf8(values)
    n = len(arr)
    s = _contiguous_sample(arr, sample_rows)
    vals = s.drop_null()
    nn = len(vals)
    if nn == 0:
        return {"n": n, "distinct_ratio": 0.0, "mean_run": float(n or 1),
                "avg_len": 0.0, "entropy": 0.0, "hex": False, "null_ratio": 1.0}
    # Arrow hashes length-prefixed strings: values with embedded NUL
    # bytes stay distinct (pandas' C-string hashing would merge them)
    distinct = len(pc.unique(vals))
    changes = 1 + _pairs(s.fill_null("\x00NULL"), pc.not_equal)
    data = strings.utf8_view(vals.slice(0, 256))[1][:65536]
    if data:
        counts = np.bincount(np.frombuffer(data, dtype=np.uint8), minlength=256)
        p = counts[counts > 0] / len(data)
        entropy = float(-(p * np.log2(p)).sum())
    else:
        entropy = 0.0
    asc = _pairs(vals, pc.greater_equal) / (nn - 1) if nn > 1 else 0.0
    chars = pc.utf8_length(vals).to_numpy()
    return {
        "n": n,
        "distinct_ratio": distinct / nn,
        "mean_run": len(s) / changes,
        "avg_len": float(chars.sum() / nn),
        "entropy": entropy,
        "hex": strings.hex_eligible(vals),
        "null_ratio": 1.0 - nn / max(1, len(s)),
        # fraction of consecutive non-null pairs in sorted order: the
        # shared-prefix signal FRONT exploits (clustered layouts sort
        # by (repo, path, commit), so dimension columns read ~1.0)
        "asc_frac": asc,
    }


def shortlist(stats: dict, arr: pa.Array | None = None) -> list[str]:
    cands = ["plain"]
    if stats["hex"]:
        # the stats sample said hex — but encode_hex requires EVERY row
        # to be canonical lowercase even-length hex (bytes.fromhex also
        # accepts uppercase and would silently lowercase on decode), so
        # validate the full column before hex may be chosen
        if arr is None or strings.hex_eligible(arr):
            cands.append("hex")
    if stats["distinct_ratio"] <= 0.5:
        cands.append("dict")
    if stats["mean_run"] >= 1.5:
        cands.append("rle")
    # FRONT pays where consecutive values share byte prefixes: runs
    # (prefix == whole value) or sorted/clustered neighbors.  Hex ids
    # share no meaningful prefixes (uniform), so skip the trial there.
    if (
        stats["avg_len"] >= 6
        and not stats["hex"]
        and (stats["mean_run"] >= 1.2 or stats.get("asc_frac", 0.0) >= 0.6)
    ):
        cands.append("front")
    # FSST pays on short-to-medium redundant strings with sub-maximal
    # entropy; on massively repetitive columns (distinct_ratio <= 0.05)
    # DICT/RLE always win the trial (measured round 4: fixture
    # path/repo/lang blocks — dict/rle 22-27k vs fsst 38k on path), so
    # skip the trial-encode there
    if (
        0 < stats["avg_len"] <= 512
        and stats["entropy"] < 6.5
        and not stats["hex"]
        and stats["distinct_ratio"] > 0.05
    ):
        cands.append("fsst")
    return cands


def select_codec(values, sample_rows: int = SAMPLE_ROWS) -> tuple[str, dict]:
    winner, stats, _buf = select_and_encode(values, sample_rows)
    return winner, stats


def select_and_encode(values, sample_rows: int = SAMPLE_ROWS) -> tuple[str, dict, bytes]:
    """Pick the min-size codec by trial-encoding deterministic samples
    and return it with the column stats and the winner's encoded block.
    ``values`` is a LargeStringArray or anything ``as_large_utf8`` takes.

    Block size splits into a fixed part (symbol/dictionary tables, zstd
    headers) and a per-row part; which dominates differs per codec
    (FSST is nearly all table, PLAIN nearly all rows).  Trial-encode at
    two sample sizes, fit ``size(n) = fixed + per_row * n``, and rank
    codecs by the extrapolated full-block size.  For small blocks the
    trials ARE full encodes, so the winning buffer is returned directly
    (no re-encode in the caller).
    """
    arr = strings.as_large_utf8(values)
    stats = column_stats(arr, sample_rows)
    cands = shortlist(stats, arr)
    n = len(arr)
    if n <= sample_rows:
        sizes: dict[str, float] = {}
        bufs: dict[str, bytes] = {}
        for codec in cands:
            try:
                bufs[codec] = api.encode_block(arr, codec)
                sizes[codec] = float(len(bufs[codec]))
            except Exception:
                continue
        winner = min(sizes, key=lambda c: (sizes[c], c))
        stats["trial_sizes"] = sizes
        return winner, stats, bufs[winner]

    # contiguous chunks, not a stride: the trial must see the same run /
    # shared-prefix structure the full encode will (see _contiguous_sample)
    full = _contiguous_sample(arr, sample_rows)
    half = full.slice(0, max(1, len(full) // 2))
    est: dict[str, float] = {}
    for codec in cands:
        try:
            s_full = len(api.encode_block(full, codec))
            s_half = len(api.encode_block(half, codec))
        except Exception:
            continue
        per_row = max(0.0, (s_full - s_half) / max(1, len(full) - len(half)))
        fixed = max(16.0, s_full - per_row * len(full))
        est[codec] = fixed + per_row * n
    # the linear fit can't rank the sub-linear codecs (dict/rle/front
    # are all ~O(runs + distinct) with zstd's nonlinearity on top; their
    # sample sizes barely grow between the half and full trials, so the
    # extrapolation is mostly noise).  Finalists — the leader, plus any
    # sub-linear codec estimating within 2.5x and the next linear codec
    # within 1.35x — get a REAL full encode and measured bytes decide.
    # The extra encodes are metadata-cheap (code streams, not data) and
    # the winning buffer is returned (no re-encode later).
    # NOTE (ADVICE r06): a stats-only fast path returning the
    # extrapolation leader without finalist encodes was tried and
    # KILLED: the fit cannot rank the sub-linear codecs (comment
    # above), and the pick then misses the 15% near-optimality
    # contract (test_selector_near_optimal).  select_codec pays the
    # finalist encodes because the measured bytes ARE the picker.
    order = sorted(est, key=lambda c: (est[c], c))  # deterministic
    stats["trial_sizes"] = est
    lead = max(est[order[0]], 1.0)
    cheap = {"dict", "rle", "front"}
    finalists = [order[0]] + [
        c for c in order[1:]
        if (c in cheap and est[c] <= 2.5 * lead)
        or (c not in cheap and est[c] <= 1.35 * lead)
    ][:2]
    bufs = {c: api.encode_block(arr, c) for c in finalists}
    winner = min(bufs, key=lambda c: (len(bufs[c]), c))
    return winner, stats, bufs[winner]
