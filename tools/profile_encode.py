#!/usr/bin/env python
"""Profile the encode kernel single-threaded outside Spark (guide §1:
measure first).  Reads the bench fixture, assigns part_ids exactly like
the bench (target_rows = n_rows // 128), then runs make_encode_kernel
over every partition under cProfile.  Evidence source for
OPTIMIZATION_r07.md; not part of the driver contract.
"""

from __future__ import annotations

import cProfile
import io
import os
import pstats
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from deltoid_spark.fixtures import codegen  # noqa: E402
from deltoid_spark.jobs.pipeline import make_encode_kernel  # noqa: E402


def main() -> None:
    tbl = pq.read_table(codegen.fixture_path("bench"))
    n = tbl.num_rows
    target = max(500, n // 128)
    # mirror assign_partitions: group rows by (repo, path) chains into
    # ~target_rows partitions — approximate here by hashing repo+path
    import pandas as pd

    keys = pd.DataFrame(
        {
            "repo": tbl.column("repo").to_pandas(),
            "path": tbl.column("path").to_pandas(),
        }
    )
    chain = keys["repo"] + "\x00" + keys["path"]
    codes, _ = pd.factorize(chain, sort=True)
    # chains -> contiguous partition ranges of ~target rows
    order = np.argsort(codes, kind="stable")
    part_of_row = np.empty(n, dtype=np.int64)
    part_of_row[order] = np.arange(n) // target
    tbl = tbl.append_column("part_id", pa.array(part_of_row))

    kern = make_encode_kernel()
    parts = sorted(set(part_of_row.tolist()))
    print(f"rows={n} partitions={len(parts)} target={target}")

    slices = []
    for p in parts:
        mask = pa.array(part_of_row == p)
        slices.append(tbl.filter(mask))

    t0 = time.time()
    prof = cProfile.Profile()
    prof.enable()
    total_out = 0
    for s in slices:
        out = kern(s)
        total_out += out.num_rows
    prof.disable()
    wall = time.time() - t0
    print(f"encode wall {wall:.2f}s, out rows {total_out}")
    prof.dump_stats("/tmp/encode_profile.prof")
    buf = io.StringIO()
    st = pstats.Stats(prof, stream=buf)
    st.sort_stats("cumulative").print_stats(45)
    print(buf.getvalue())


if __name__ == "__main__":
    main()
