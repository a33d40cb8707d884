"""Encode-throughput benchmark, one parallelism level per process.

Run as ``python -m deltoid_spark.bench_encode --cores N [--name bench]``;
prints one JSON line.  bench.py spawns this at two core counts to
evidence the north_rule's N -> 4N scaling efficiency with clean JVMs.

Timing covers the encode *action* only (shuffle + kernels + block
write), not session startup or fixture generation — matching how a
cluster job would be measured (input GB / job wall-clock).
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
    from .jobs import encode, metrics_summary  # noqa: F401
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

    # timed region = the encode ACTION (scan -> one shuffle -> kernels ->
    # block write): the part that scales with cluster size.  Partition
    # assignment (one tiny aggregate) and manifest aggregation (rows ==
    # partition count) are O(metadata) bookkeeping, reported separately.
    from .jobs.partitioning import assign_partitions
    from .jobs.pipeline import BLOCK_SCHEMA, make_encode_kernel, make_fragment_kernel

    t_assign = time.time()
    dfp, n_parts = assign_partitions(df, target_rows)
    t_assign = time.time() - t_assign

    if mode == "clustered":
        encoded = dfp.mapInArrow(make_fragment_kernel(), BLOCK_SCHEMA)
    else:
        encoded = dfp.groupBy("part_id").applyInArrow(make_encode_kernel(), BLOCK_SCHEMA)
    walls = []
    outs = []
    for _attempt in range(attempts):  # best-of-N: JIT + page cache warm, env noise
        out = tempfile.mkdtemp(prefix=f"bench_enc_{cores}_")
        outs.append(out)
        t0 = time.time()
        # payloads are already zstd'd — parquet re-compression (snappy)
        # would burn CPU + memory bandwidth for ~0 size win
        encoded.write.mode("append").option("compression", "none").parquet(
            os.path.join(out, "blocks")
        )
        walls.append(time.time() - t0)
    wall = min(walls)

    import pyspark.sql.functions as F

    written = spark.read.parquet(os.path.join(outs[-1], "blocks"))
    agg = written.agg(
        F.sum("raw_bytes").alias("raw"), F.sum("enc_bytes").alias("enc")
    ).collect()[0]

    # decode throughput (output bytes reconstructed per second).
    # applyInArrow with the owned pandas->Arrow conversion — the SAME
    # return boundary the production decode() job uses — instead of
    # applyInPandas, whose serializer re-transposes ~2 GB of decoded
    # strings through pandas on the way back to the JVM (guide §4).
    from .jobs.pipeline import (
        DEFAULT_SPEC,
        ROW_SCHEMA,
        _pdf_to_arrow,
        make_decode_kernel,
    )

    decode_kernel = make_decode_kernel(DEFAULT_SPEC)

    def _decode_arrow(tbl):
        return _pdf_to_arrow(decode_kernel(tbl.to_pandas()), DEFAULT_SPEC)

    t0 = time.time()
    (
        written.groupBy("part_id")
        .applyInArrow(_decode_arrow, ROW_SCHEMA)
        .write.format("noop").mode("overwrite").save()
    )
    decode_wall = time.time() - t0
    spark.stop()
    for out in outs:
        shutil.rmtree(out, ignore_errors=True)
    return {
        "cores": cores,
        "mode": mode,
        "rows": n_rows,
        "input_bytes": input_bytes,
        "enc_bytes": int(agg["enc"]),
        "ratio": int(agg["enc"]) / max(1, int(agg["raw"])),
        "wall_s": round(wall, 2),
        "walls": [round(w, 2) for w in walls],
        "assign_s": round(t_assign, 2),
        "gbps": input_bytes / wall / 1e9,
        "decode_wall_s": round(decode_wall, 2),
        "decode_gbps": input_bytes / decode_wall / 1e9,
        "partitions": n_parts,
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
