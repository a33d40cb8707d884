"""Encode-throughput benchmark, one parallelism level per process.

Run as ``python -m deltoid_spark.bench_encode --cores N [--name bench]``;
prints one JSON line.  bench.py spawns this at two core counts to
evidence the north_rule's N -> 4N scaling efficiency with clean JVMs.

It times the shipped jobs, not a copy of them: ``wall_s`` is one
``jobs.encode`` call into a fresh directory (partition map build, scan,
shuffle, kernels, block write, spec / partition map / manifest writes),
and ``decode_wall_s`` is ``jobs.decode`` into Spark's ``noop`` sink.
Session startup and fixture generation are outside both.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import tempfile
import time


def run(
    cores: int,
    name: str = "bench",
    target_rows: int | None = None,
    mode: str = "grouped",
    attempts: int = 3,
) -> dict:
    from .fixtures import codegen
    from .jobs import decode, encode, metrics_summary
    from .session import get_spark

    fixture = codegen.ensure_fixture(name)
    # Large sequential input splits for the encode job: its parallelism
    # comes from the part_id shuffle, not the scan, and clustered-mode
    # fragment boundaries (and therefore keyframe count and ratio) must
    # track row groups, not an artificially small query-tuned split
    # size (see session.py DS_MAX_PARTITION_BYTES).
    os.environ.setdefault("DS_MAX_PARTITION_BYTES", "128m")
    # AQE off: the encode shuffle's partitioning is deliberate; AQE's
    # coalescing would merge reduce partitions and cap parallelism.
    spark = get_spark(
        cores=cores, app=f"bench-encode-{cores}", shuffle_partitions=128, aqe=False
    )
    df = spark.read.parquet(fixture)
    input_bytes = int(
        df.selectExpr(
            "sum(octet_length(content) + octet_length(repo) + octet_length(path)"
            " + octet_length(commit) + octet_length(lang)) as b"
        ).collect()[0]["b"]
    )
    n_rows = df.count()

    if target_rows is None:
        # core-count-INDEPENDENT partitioning: the same 128 partitions at
        # every parallelism level, so scaling runs compare identical work
        # (and identical output bytes)
        target_rows = max(500, n_rows // 128)

    # pre-warm every Python worker (imports numpy/pandas/kernels) so the
    # timed run measures encode, not interpreter startup
    def _warm(batches):
        import deltoid_spark.kernels  # noqa: F401
        yield from batches

    spark.range(cores * 8).repartition(cores * 2).mapInArrow(_warm, "id long").count()

    walls = []
    outs = []
    for _attempt in range(attempts):  # best-of-N: JIT + page cache warm, env noise
        out = tempfile.mkdtemp(prefix=f"bench_enc_{cores}_")
        outs.append(out)
        t0 = time.time()
        manifest = encode(spark, fixture, out, target_rows=target_rows, mode=mode)
        walls.append(time.time() - t0)
    wall = min(walls)
    summary = metrics_summary(manifest)

    # decode throughput (output bytes reconstructed per second)
    t0 = time.time()
    decode(spark, outs[-1]).write.format("noop").mode("overwrite").save()
    decode_wall = time.time() - t0
    spark.stop()
    for out in outs:
        shutil.rmtree(out, ignore_errors=True)
    return {
        "cores": cores,
        "mode": mode,
        "rows": n_rows,
        "input_bytes": input_bytes,
        "enc_bytes": summary["enc_bytes"],
        "ratio": summary["enc_bytes"] / max(1, summary["raw_bytes"]),
        "wall_s": round(wall, 2),
        "walls": [round(w, 2) for w in walls],
        "gbps": input_bytes / wall / 1e9,
        "decode_wall_s": round(decode_wall, 2),
        "decode_gbps": input_bytes / decode_wall / 1e9,
        "partitions": summary["partitions"],
    }


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--name", default="bench")
    ap.add_argument("--target-rows", type=int, default=None)
    ap.add_argument("--mode", default="grouped", choices=["grouped", "clustered"])
    ap.add_argument("--attempts", type=int, default=3)
    args = ap.parse_args()
    os.environ.setdefault("SPARK_DRIVER_MEM", "16g")
    print(json.dumps(run(args.cores, args.name, args.target_rows, args.mode, args.attempts)))
