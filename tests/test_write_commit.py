"""Writes commit their own manifest rows, and the engine's small
driver-side frames are local relations.

- Plan guard: every small frame the jobs layer builds on the driver
  (the partition map, the live block list, the resume and batch_id skip
  lists, the empty blocks table) plans as a ``LocalRelation``.  A frame
  built from a Python list, or from an empty pandas frame, plans as a
  ``LogicalRDD``: it runs a plain Python-RDD job, whose runner keeps a
  second Python worker pool alive for the session.
- Manifest parity: the manifest rows a run commits from its write's
  observed block metadata equal the Spark-side aggregate of the blocks
  it wrote (``reference_manifest_rows`` below, the aggregate the engine
  ran before the write reported its own rows), failed partitions' error
  heads included.
- Retry safety: the observation sits in the write's result stage, so a
  retried stage cannot count a block twice.
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from deltoid_spark.fixtures import codegen
from deltoid_spark.jobs import compact, encode, encode_append
from deltoid_spark.jobs.partitioning import apply_partition_map
from deltoid_spark.jobs.pipeline import (
    MANIFEST_ARROW,
    _active_blocks,
    _active_of,
    _read_blocks,
    _read_manifest,
    read_table_spec,
)

POISON = "org0/repo0"
AGG_COLS = [
    "part_id", "n_rows", "raw_bytes", "enc_bytes", "codecs", "content_sha256",
    "wall_s", "status", "error",
]


def reference_manifest_rows(spark, out_dir: str, run_id: str) -> list[dict]:
    """A run's manifest rows aggregated from its blocks on disk through
    Spark: the run's block metadata, deduplicated on (part_id, frag_id,
    column), one row per part_id; a failed partition's error is its
    error rows' payload text."""
    spec = read_table_spec(spark, out_dir)["spec"]
    blocks = _read_blocks(spark, os.path.join(out_dir, "blocks")).filter(
        F.col("run_id") == run_id
    )
    written = (
        blocks.select(
            "part_id", "frag_id", "column", "codec", "n_rows", "raw_bytes",
            "enc_bytes", "sha256", "wall_s",
        )
        .repartition("part_id")
        .dropDuplicates(["part_id", "frag_id", "column"])
    )
    first_col = spec[0][0]
    rows = written.groupBy("part_id").agg(
        F.sum(
            F.when(F.col("column").isin(first_col, "*"), F.col("n_rows")).otherwise(0)
        ).alias("n_rows"),
        F.sum("raw_bytes").alias("raw_bytes"),
        F.sum("enc_bytes").alias("enc_bytes"),
        F.to_json(
            F.create_map(
                *[
                    part
                    for c, _ in spec
                    for part in (
                        F.lit(c),
                        F.min(F.when(F.col("column") == c, F.col("codec"))),
                    )
                ]
            )
        ).alias("codecs"),
        F.max("sha256").alias("content_sha256"),
        F.max("wall_s").alias("wall_s"),
        F.when(
            F.sum(F.when(F.col("codec") == "error", 1).otherwise(0)) > 0, "failed"
        ).otherwise("committed").alias("status"),
    ).toPandas()
    errors = (
        blocks.filter(F.col("codec") == "error")
        .groupBy("part_id")
        .agg(F.max(F.col("payload").cast("string")).alias("error"))
        .toPandas()
    )
    rows = rows.merge(errors, on="part_id", how="left")
    return _canonical(rows)


def _canonical(rows: pd.DataFrame) -> list[dict]:
    schema = pa.schema([MANIFEST_ARROW.field(c) for c in AGG_COLS])
    table = pa.Table.from_pandas(rows[AGG_COLS], schema=schema, preserve_index=False)
    return sorted(table.to_pylist(), key=lambda r: r["part_id"])


def _committed_rows(out_dir: str, run_id: str) -> list[dict]:
    """The manifest rows the run committed, read from its own file."""
    path = os.path.join(out_dir, "manifest", f"part-{run_id}.parquet")
    rows = pq.read_table(path).to_pandas()
    assert set(rows["run_id"]) <= {run_id}
    return _canonical(rows)


def _newest_run(spark, out_dir: str) -> str:
    m = _read_manifest(spark, out_dir)
    return str(m.loc[m["gen"].idxmax(), "run_id"])


def _sql_plans(spark, run) -> list[str]:
    """The physical plan of every SQL execution ``run()`` starts."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def executions():
        bus.waitUntilEmpty()
        lst = store.executionsList()
        return [lst.apply(i) for i in range(lst.size())]

    seen = {e.executionId() for e in executions()}
    run()
    return [e.physicalPlanDescription() for e in executions() if e.executionId() not in seen]


@pytest.fixture(scope="module")
def table_history(spark, split_batches, tmp_path_factory):
    """One table's runs: an encode with a failed partition, the resume
    that heals it, an append with a failed partition, its batch_id
    retry, and a compact; plus a clustered encode with a failed
    partition (several fragments per partition).  Returns the two
    out_dirs, {step: run_id} and the SQL plans of the resume and the
    retry."""
    _pdf, a, b = split_batches
    src = str(tmp_path_factory.mktemp("commit_src"))
    a_src = codegen.write_parquet(a, os.path.join(src, "a.parquet"))
    b_src = codegen.write_parquet(b, os.path.join(src, "b.parquet"), n_shards=4)
    out = str(tmp_path_factory.mktemp("commit"))
    runs, plans = {}, {}
    encode(spark, a_src, out, target_rows=500, _fail_inject=POISON)
    runs["encode_failed"] = _newest_run(spark, out)
    plans["resume"] = _sql_plans(spark, lambda: encode(spark, a_src, out, target_rows=500))
    runs["encode_resume"] = _newest_run(spark, out)
    encode_append(spark, b_src, out, batch_id="B1", _fail_inject=POISON)
    runs["append_failed"] = _newest_run(spark, out)
    plans["batch_retry"] = _sql_plans(
        spark, lambda: encode_append(spark, b_src, out, batch_id="B1")
    )
    runs["append_retry"] = _newest_run(spark, out)
    compact(spark, out)
    runs["compact"] = _newest_run(spark, out)
    clustered = str(tmp_path_factory.mktemp("commit_clustered"))
    encode(spark, a_src, clustered, target_rows=500, mode="clustered", _fail_inject=POISON)
    return {"main": out, "clustered": clustered}, runs, plans


# ------------------------------------------------------------ plan guard ----


def _assert_local(df) -> None:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" not in plan, plan


@pytest.mark.parametrize(
    "salt_map", [[("org0/repo0", 0, 3)], []], ids=["giants", "no_giants"]
)
def test_partition_map_is_a_local_relation(spark, salt_map):
    rows = pa.table({"repo": ["org0/repo0", "org1/repo1"], "path": ["a.py", "b.py"]})
    base = 3 * len(salt_map)  # the giant takes part_ids 0-2
    df = apply_partition_map(spark.createDataFrame(rows), salt_map, base, 2)
    _assert_local(df)
    got = {r["repo"]: r["part_id"] for r in df.collect()}
    assert got["org1/repo1"] in (base, base + 1)
    assert got["org0/repo0"] in ((0, 1, 2) if salt_map else (0, 1))


@pytest.mark.parametrize("live", ["empty", "non_empty"])
def test_active_blocks_is_a_local_relation(spark, table_history, live):
    out = table_history[0]["main"]
    active = _active_of(_read_manifest(spark, out))
    if live == "empty":
        active = active.iloc[0:0]
    blocks = _active_blocks(spark, out, active=active)
    _assert_local(blocks)
    assert (blocks.count() == 0) == (live == "empty")


def test_missing_blocks_dir_is_a_local_relation(spark, tmp_path):
    blocks = _read_blocks(spark, str(tmp_path / "absent"))
    _assert_local(blocks)
    assert blocks.count() == 0


@pytest.mark.parametrize("step", ["resume", "batch_retry"])
def test_skip_lists_plan_no_python_rdd(table_history, step):
    """The resume (committed parts) and batch_id (already appended
    parts) anti-joins, end to end: no SQL execution of the operation
    scans an RDD."""
    plans = table_history[2][step]
    assert plans
    assert not [p for p in plans if "Scan ExistingRDD" in p]


# ------------------------------------------------------- manifest parity ----


@pytest.mark.parametrize(
    "step", ["encode_failed", "encode_resume", "append_failed", "append_retry", "compact"]
)
def test_committed_rows_equal_the_reference(spark, table_history, step):
    out, runs = table_history[0]["main"], table_history[1]
    got = _committed_rows(out, runs[step])
    assert got == reference_manifest_rows(spark, out, runs[step])
    assert got
    if step.endswith("_failed"):
        failed = [r for r in got if r["status"] == "failed"]
        assert failed and all("injected failure" in r["error"] for r in failed)
        assert any(r["status"] == "committed" for r in got)


def test_clustered_committed_rows_equal_the_reference(spark, table_history):
    out = table_history[0]["clustered"]
    run_id = _newest_run(spark, out)
    got = _committed_rows(out, run_id)
    assert got == reference_manifest_rows(spark, out, run_id)
    assert {r["status"] for r in got} == {"failed", "committed"}


def _ancestors(plan: str, node: str) -> list[str]:
    """The nodes above the first ``node`` line of the plan's final
    (adaptive) physical plan, nearest first."""
    lines = plan.split("== Final Plan ==", 1)[-1].split("== Initial Plan ==")[0]
    lines = lines.splitlines()

    def indent(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-*"))

    at = next(i for i, line in enumerate(lines) if node in line)
    out, depth = [], indent(lines[at])
    for line in reversed(lines[:at]):
        if line.strip() and indent(line) < depth:
            out.append(line.strip(" :+-*"))
            depth = indent(line)
    return out


def test_observation_sits_in_the_write_result_stage(spark, split_batches, tmp_path):
    """Accumulator updates from a result stage's tasks apply once per
    partition; those of a shuffle map stage apply again when the stage
    is retried.  So no exchange may sit between the observation and
    the write."""
    _pdf, a, b = split_batches
    out = str(tmp_path / "t")
    src = codegen.write_parquet(a, str(tmp_path / "a.parquet"))
    plans = _sql_plans(spark, lambda: encode(spark, src, out, target_rows=500))
    plans += _sql_plans(spark, lambda: encode_append(spark, spark.createDataFrame(b), out))
    plans += _sql_plans(spark, lambda: compact(spark, out))
    writes = [p for p in plans if "InsertIntoHadoopFsRelationCommand" in p]
    assert len(writes) == 3
    for plan in writes:
        above = _ancestors(plan, "CollectMetrics")
        assert any(n.startswith("Execute InsertIntoHadoopFsRelationCommand") for n in above)
        assert not [n for n in above if "Exchange" in n or "ShuffleQueryStage" in n
                    or "AQEShuffleRead" in n], above
