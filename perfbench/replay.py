"""Single-threaded replay of the encode kernels on one sample partition.

Every call goes to a function the engine ships: the whole partition
kernel (``make_encode_kernel``) and its pieces (selector, chain, digest,
Bloom filter, each string codec), so a change to any kernel moves the
matching number.  The sample is one ``codegen`` partition drawn from the
run's seed, the same for every workload.
"""

from __future__ import annotations

import statistics
import time

import pyarrow as pa

from deltoid_spark.fixtures import codegen
from deltoid_spark.jobs import pipeline
from deltoid_spark.kernels import api, blocks, bloom, chain, selector

SAMPLE_ROWS = 5_000
REPEATS = 3
KEY_COLS = ["repo", "path"]
DIM_COLS = ["repo", "path", "commit", "lang"]


def _timed(fn, *args):
    """(median seconds over REPEATS calls, last result)."""
    times, out = [], None
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        out = fn(*args)
        times.append(time.perf_counter() - t0)
    return statistics.median(times), out


def replay(seed: int) -> dict[str, float]:
    pdf = codegen.generate(SAMPLE_ROWS, seed=seed)
    part = pa.Table.from_pandas(pdf.assign(part_id=0), preserve_index=False)
    out: dict[str, float] = {}
    out["kernel.partition_s"], _ = _timed(pipeline.make_encode_kernel(), part)

    rows = pdf.sort_values([*KEY_COLS, "commit"], kind="mergesort").reset_index(drop=True)
    gsizes = rows.groupby(KEY_COLS, sort=False).size().to_numpy()
    content = pa.array(rows["content"], pa.large_utf8())

    sel_s, trials = 0.0, 0
    bloom_s = 0.0
    for col in DIM_COLS:
        s, (_codec, stats, _buf) = _timed(selector.select_and_encode, rows[col])
        sel_s += s
        trials += len(stats["trial_sizes"])
        s, _ = _timed(bloom.bloom_build, pa.array(rows[col], pa.large_utf8()))
        bloom_s += s
    out["selector.s"] = sel_s
    out["selector.trials"] = float(trials)
    out["bloom.build_s"] = bloom_s
    out["chain.encode_s"], buf = _timed(chain.encode_chain, content, gsizes)
    _codec, meta, payload = blocks.unframe(buf)
    out["chain.decode_s"], _ = _timed(chain.decode_chain_arrow, meta, payload)
    out["digest.s"], _ = _timed(api.sha256_column_arrow, content)

    for codec in api.STRING_CODECS:
        enc_s, nbytes = 0.0, 0
        for col in DIM_COLS:
            try:
                s, blk = _timed(api.encode_block, rows[col], codec)
            except ValueError:  # the codec does not accept this column
                continue
            enc_s += s
            nbytes += len(blk)
        out[f"codec.{codec}.encode_s"] = enc_s
        out[f"codec.{codec}.bytes"] = float(nbytes)
    return out
