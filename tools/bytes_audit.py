"""Where-the-bytes-go audit: per-column encoded size over the bench
fixture (no Spark — runs the encode kernel directly over the first K
repo-hash groups).  Reproduces the
BASELINE.md "Round-6 where-the-bytes-go audit" table.

Run: python tools/bytes_audit.py [K]   (default 24 groups)
"""

from __future__ import annotations

import os
import sys
from collections import defaultdict

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from deltoid_spark.fixtures import codegen
from deltoid_spark.jobs.pipeline import make_encode_kernel

K = int(sys.argv[1]) if len(sys.argv) > 1 else 24

fixture = codegen.ensure_fixture("bench")
tbl = pq.read_table(fixture)
repo = tbl.column("repo").to_pandas()
codes, _ = pd.factorize(repo)
part = (codes % 128).astype(np.int64)
tbl = tbl.append_column("part_id", pa.array(part))
kernel = make_encode_kernel()

agg: dict[str, list] = defaultdict(lambda: [0, 0, defaultdict(int)])
for pid in range(K):
    sub = tbl.filter(pa.compute.equal(tbl.column("part_id"), pid))
    if not sub.num_rows:
        continue
    out = kernel(sub).to_pandas()
    for r in out.itertuples():
        a = agg[r.column]
        a[0] += r.enc_bytes
        a[1] += r.raw_bytes
        a[2][r.codec] += 1

tot = sum(a[0] for a in agg.values())
print(f"{'column':10s} {'enc_bytes':>12s} {'share':>6s} {'ratio':>7s}  codecs")
for col, (enc, raw, cd) in sorted(agg.items(), key=lambda kv: -kv[1][0]):
    print(
        f"{col:10s} {enc:>12,} {enc / tot * 100:5.1f}% "
        f"{enc / max(raw, 1):7.4f}  {dict(cd)}"
    )
print(f"total enc {tot:,} over {K} groups")
