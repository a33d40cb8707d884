#!/usr/bin/env python
"""Profile the decode kernel single-threaded outside Spark (guide §1).
Encodes the bench fixture once in-process, then cProfiles
the decode kernel over every partition's block set."""

from __future__ import annotations

import cProfile
import io
import os
import pstats
import sys
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from deltoid_spark.fixtures import codegen  # noqa: E402
from deltoid_spark.jobs import pipeline as pl  # noqa: E402


def main() -> None:
    tbl = pq.read_table(codegen.fixture_path("bench"))
    n = tbl.num_rows
    target = max(500, n // 128)
    keys = pd.DataFrame(
        {"repo": tbl.column("repo").to_pandas(), "path": tbl.column("path").to_pandas()}
    )
    chain_key = keys["repo"] + "\x00" + keys["path"]
    codes, _ = pd.factorize(chain_key, sort=True)
    order = np.argsort(codes, kind="stable")
    part_of_row = np.empty(n, dtype=np.int64)
    part_of_row[order] = np.arange(n) // target
    tbl = tbl.append_column("part_id", pa.array(part_of_row))

    kern = pl.make_encode_kernel()
    blocks = []
    for p in sorted(set(part_of_row.tolist())):
        blocks.append(kern(tbl.filter(pa.array(part_of_row == p))))
    print(f"encoded {len(blocks)} partitions")

    decode_kernel = pl.make_decode_kernel(pl.DEFAULT_SPEC)
    pdfs = [b.to_pandas() for b in blocks]
    t0 = time.time()
    prof = cProfile.Profile()
    prof.enable()
    rows = 0
    for pdf in pdfs:
        out = decode_kernel(pdf)
        rows += len(out)
    prof.disable()
    wall = time.time() - t0
    print(f"decode wall {wall:.2f}s rows {rows}")
    prof.dump_stats("/tmp/decode_profile.prof")
    buf = io.StringIO()
    pstats.Stats(prof, stream=buf).sort_stats("cumulative").print_stats(40)
    print(buf.getvalue())


if __name__ == "__main__":
    main()
