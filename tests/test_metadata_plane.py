"""The metadata plane: explicit-schema reads of the engine's own tables
and one metadata resolution per operation.

- Older footers: files written before a column existed (zone maps and
  Bloom filters on blocks, origin/msg on the manifest) read that column
  as null through the explicit schemas — decode stays exact, pruning
  degrades to scan-all, history shows nulls, and vacuum keeps the
  columns.
- Job counts: each operation's Spark jobs stay at or under the counts
  the metadata plane brought them to, so a metadata decision that
  starts launching its own jobs again shows here.
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq

from deltoid_spark.fixtures import codegen
from deltoid_spark.jobs import compact, decode, encode, encode_append, history, vacuum, verify
from deltoid_spark.jobs.pipeline import DEFAULT_SPEC, _active_blocks, _parse_where, _where_parts

ZONE_COLS = ["zmin", "zmax", "smin", "smax", "bloom"]


def _strip_columns(files: list[str], drop: list[str]) -> None:
    """Rewrite parquet files in place without ``drop`` — the footers an
    older writer produced.  The local file system's checksum sidecar
    goes too, or Hadoop rejects the rewritten file."""
    for f in files:
        tbl = pq.read_table(f)
        pq.write_table(tbl.drop_columns([c for c in drop if c in tbl.column_names]), f)
        crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
        if os.path.exists(crc):
            os.remove(crc)


def _parts(blocks) -> set[int]:
    return {r["part_id"] for r in blocks.select("part_id").distinct().collect()}


def _pruned(spark, out: str, where) -> set[int]:
    """The partitions decode(where=) keeps, over the live fragments."""
    preds = _parse_where(where, DEFAULT_SPEC)
    return _where_parts(_active_blocks(spark, out), preds)


def test_older_footers_read_as_null(spark, split_batches, tmp_path_factory):
    pdf, a, b = split_batches
    out = str(tmp_path_factory.mktemp("legacy"))
    encode(spark, spark.createDataFrame(a), out, target_rows=500)
    base_run = os.path.basename(glob.glob(os.path.join(out, "blocks", "run_id=*"))[0])
    lo, hi = sorted(a["repo"].unique())[:2]

    # control: on the fresh table the repo zone maps prune partitions
    all_parts = _parts(_active_blocks(spark, out))
    assert len(all_parts) >= 3
    assert _pruned(spark, out, ("repo", lo, hi)) < all_parts

    # the base run as an older writer left it: blocks without zone maps
    # and Bloom filters, manifest without origin/msg
    _strip_columns(glob.glob(os.path.join(out, "blocks", base_run, "*.parquet")), ZONE_COLS)
    _strip_columns(glob.glob(os.path.join(out, "manifest", "*.parquet")), ["origin", "msg"])
    assert "bloom" not in pq.read_schema(
        glob.glob(os.path.join(out, "blocks", base_run, "*.parquet"))[0]
    ).names

    encode_append(spark, spark.createDataFrame(b), out, origin="ingest", message="batch b")
    full = spark.createDataFrame(pdf)

    # decode is exact over mixed old and new footers
    assert verify(spark, full, decode(spark, out))["ok"]

    # pruning falls back to scanning every partition that holds a base
    # fragment (its zones read as null), and the residual filter keeps
    # the rows exact
    assert _pruned(spark, out, ("repo", lo, hi)) == all_parts
    got = sorted(r["commit"] for r in decode(spark, out, where=("repo", lo, hi)).collect())
    want = sorted(pdf.loc[(pdf["repo"] >= lo) & (pdf["repo"] <= hi), "commit"])
    assert got == want
    probe = str(b["commit"].iloc[0])
    hit = decode(spark, out, where=("commit", [probe])).collect()
    assert [r["commit"] for r in hit] == [probe]

    # history shows the older run's commit metadata as null
    hist = history(spark, out).collect()
    assert [(r["kind"], r["origin"], r["msg"]) for r in hist] == [
        ("replace", None, None),
        ("append", "ingest", "batch b"),
    ]

    # vacuum rewrites every block with the zone and Bloom columns, and
    # the appended run's zone maps survive the rewrite
    vacuum(spark, out)
    for f in glob.glob(os.path.join(out, "blocks", "run_id=*", "*.parquet")):
        assert set(ZONE_COLS) <= set(pq.read_schema(f).names), f
    kept = _active_blocks(spark, out)
    assert kept.filter(kept["smin"].isNotNull()).count() > 0
    assert verify(spark, full, decode(spark, out))["ok"]


# Spark jobs per operation on the table below.  Before the metadata
# plane the same operations took encode 18, decode 8, append 26 and
# compact 21 jobs (as on the benchmark's roundtrip table).  The metadata
# tables are now read and written on the driver, so what remains is
# data work: the input scan, the kernel shuffles and block writes, the
# broadcast joins of the partition map and the active manifest; see
# README "Metadata plane".  A where= read adds
# one job to a decode: the single prune pass that collects the hit
# list.  Separate zone and Bloom passes, each with its own aggregate and
# broadcast join, took lookup 8 and range_read 6 jobs here.  Compaction
# took 6 while it ran a decode job and shuffled the decoded rows into a
# separate encode job; its one replay-and-encode kernel took 5.  Each
# write now reports its blocks' metadata itself: the two jobs that read
# the run's blocks back and aggregated them into manifest rows are gone
# (encode 9, append 10 and compact 5 before).
MAX_JOBS = {
    "encode": 7, "decode": 3, "append": 8, "lookup": 5, "range_read": 5, "compact": 3,
}


def test_jobs_per_operation(spark, split_batches, tmp_path_factory):
    _pdf, a, b = split_batches
    out = str(tmp_path_factory.mktemp("jobs"))
    src = str(tmp_path_factory.mktemp("jobsrc"))
    codegen.write_parquet(a, os.path.join(src, "a.parquet"))
    codegen.write_parquet(b, os.path.join(src, "b.parquet"))
    sc = spark.sparkContext
    commits = [str(c) for c in b["commit"].iloc[::400]]
    lo, hi = sorted(a["repo"].unique())[:2]

    def read(**kw):
        decode(spark, out, **kw).write.format("noop").mode("overwrite").save()

    ops = {
        "encode": lambda: encode(spark, os.path.join(src, "a.parquet"), out, target_rows=500),
        "decode": lambda: read(),
        "append": lambda: encode_append(spark, os.path.join(src, "b.parquet"), out),
        # after the append, so partitions hold two fragments
        "lookup": lambda: read(where=("commit", commits)),
        "range_read": lambda: read(where=("repo", lo, hi)),
        "compact": lambda: compact(spark, out),
    }
    counts = {}
    try:
        for name, run in ops.items():
            group = f"metadata-plane-{name}-{os.path.basename(out)}"
            sc.setJobGroup(group, name)
            run()
            counts[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert all(counts[k] <= MAX_JOBS[k] for k in MAX_JOBS), counts


def test_where_prunes_multi_fragment_partitions(spark, split_batches, tmp_path_factory):
    """decode(where=) after an append: a partition survives when any of
    its live fragments can hold a match, and predicates AND."""
    pdf, a, b = split_batches
    out = str(tmp_path_factory.mktemp("multifrag"))
    encode(spark, spark.createDataFrame(a), out, target_rows=500)
    encode_append(spark, spark.createDataFrame(b), out)
    frags = _active_blocks(spark, out).select("part_id", "run_id").distinct()
    assert frags.groupBy("part_id").count().filter("count = 2").count() > 0

    # a commit that only the appended fragment holds
    v = str(b["commit"].iloc[0])
    assert v not in set(a["commit"])
    got = decode(spark, out, with_part_id=True, where=("commit", [v])).collect()
    assert [r["commit"] for r in got] == [v]
    assert got[0]["part_id"] in _pruned(spark, out, ("commit", [v]))

    # an absent commit prunes every partition
    absent = "00000000" + "8" + "0" * 31
    assert absent not in set(pdf["commit"])
    assert _pruned(spark, out, ("commit", [absent])) == set()
    assert decode(spark, out, where=("commit", [absent])).count() == 0

    # an equality range is a one-point set; predicates on one column AND
    pv = _pruned(spark, out, ("commit", [v]))
    assert _pruned(spark, out, ("commit", v, v)) == pv
    w = str(a["commit"].iloc[-1])
    pw = _pruned(spark, out, ("commit", [w]))
    assert _pruned(spark, out, [("commit", [v]), ("commit", [w])]) == pv & pw
    assert decode(spark, out, where=[("commit", [v]), ("commit", [w])]).count() == 0
    assert _pruned(spark, out, [("commit", [v, w]), ("commit", [w])]) == pw
    both = decode(spark, out, where=[("commit", [v, w]), ("commit", [w])]).collect()
    assert [r["commit"] for r in both] == [w]
