"""Incremental append encode (A18) + codec-switch compaction (A17).

Reference semantics: ``push_snapshot`` appends one delta to an existing
chain (/root/reference/deltoid/src/snapshot/delta.rs:108-125); enum
cross-variant changes force a full re-encode
(/root/reference/deltoid-derive/src/gen/enums.rs:544-550).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from deltoid_spark.fixtures import codegen
from deltoid_spark.jobs import (
    compact,
    decode,
    encode,
    encode_append,
    history,
    metrics_summary,
    verify,
)
from deltoid_spark.jobs.pipeline import (
    BLOCK_SCHEMA,
    _manifest_active,
    make_encode_kernel,
    read_table_spec,
)


def _enc_bytes(manifest):
    return metrics_summary(manifest)["enc_bytes"]


def test_append_extends_chains(spark, split_batches, tmp_path_factory):
    pdf, a, b = split_batches
    assert len(a) and len(b)

    out = str(tmp_path_factory.mktemp("appbase"))
    encode(spark, spark.createDataFrame(a), out, target_rows=500)
    manifest = encode_append(spark, spark.createDataFrame(b), out)
    assert all(r["status"] == "committed" for r in manifest.collect())

    # full parity across both batches
    full = spark.createDataFrame(pdf)
    report = verify(spark, full, decode(spark, out))
    assert report["ok"], report

    # appended fragments really are seeded chain continuations
    frag1 = (
        spark.read.parquet(f"{out}/blocks")
        .filter((F.col("frag_id") > 0) & (F.col("column") == "content"))
        .collect()
    )
    assert frag1 and all(r["codec"] == "chain" for r in frag1)

    # ratio stays close to a single-shot encode of the whole table
    out1 = str(tmp_path_factory.mktemp("oneshot"))
    single = _enc_bytes(encode(spark, full, out1, target_rows=500))
    appended = _enc_bytes(manifest)
    assert appended < single * 1.25, (appended, single)


def test_append_new_keys_and_empty_parts(spark, split_batches, tmp_path_factory):
    _pdf, a, _b = split_batches
    out = str(tmp_path_factory.mktemp("appnew"))
    encode(spark, spark.createDataFrame(a), out, target_rows=500)

    # a batch of entirely NEW files (unseen repo) appends cleanly
    new = a.head(5).copy()
    new["repo"] = "brand/new-repo"
    new["path"] = "src/new_" + new["path"].str.replace("/", "_")
    encode_append(spark, spark.createDataFrame(new), out)
    decoded = decode(spark, out)
    assert decoded.filter(F.col("repo") == "brand/new-repo").count() == 5
    combined = spark.createDataFrame(__import__("pandas").concat([a, new]))
    assert verify(spark, combined, decoded)["ok"]


def test_compact_reencodes_and_switches_codec(spark, split_batches, tmp_path_factory):
    _pdf, a, b = split_batches
    out = str(tmp_path_factory.mktemp("compact"))
    encode(spark, spark.createDataFrame(a), out, target_rows=500)

    # drift the appended batch's commit ids out of hex-space: the base
    # fragments chose hex/plain for canonical sha commits, the appended
    # data can't be hex -> after compaction the selector must re-pick
    # over the UNION and drop hex wholesale (A17 cross-variant re-encode)
    drifted = b.copy()
    drifted["commit"] = "COMMIT::" + drifted["commit"].str.upper()
    encode_append(spark, spark.createDataFrame(drifted), out)

    active_before = encode_manifest = None
    import json

    from deltoid_spark.jobs.pipeline import _manifest_active

    active_before = _manifest_active(spark, f"{out}/manifest")
    parts_multi = (
        active_before.groupBy("part_id").count().filter(F.col("count") > 1).count()
    )
    assert parts_multi > 0

    combined = spark.createDataFrame(
        __import__("pandas").concat([a, drifted], ignore_index=True)
    )
    assert verify(spark, combined, decode(spark, out))["ok"]  # pre-compact parity

    manifest = compact(spark, out)
    rows = manifest.collect()
    per_part = {}
    for r in rows:
        per_part.setdefault(r["part_id"], []).append(r)
    assert all(len(v) == 1 for v in per_part.values())  # single active gen again
    assert verify(spark, combined, decode(spark, out))["ok"]  # post-compact parity

    # codec switch visible: compacted partitions holding drifted commits
    # can no longer use hex for the commit column
    compacted = [r for r in rows if r["kind"] == "replace" and r["n_rows"] > 0]
    codecs = [json.loads(r["codecs"]).get("commit") for r in compacted]
    assert "hex" not in codecs, codecs

    # idempotent: nothing left to compact
    again = compact(spark, out)
    assert again.count() == manifest.count()


def test_vacuum_reclaims_superseded_blocks(spark, split_batches, tmp_path_factory):
    from deltoid_spark.jobs import vacuum

    pdf, a, b = split_batches
    out = str(tmp_path_factory.mktemp("vac"))
    encode(spark, spark.createDataFrame(a), out, target_rows=500)
    encode_append(spark, spark.createDataFrame(b), out)
    compact(spark, out)  # appends superseded -> dead fragments remain on disk

    full = spark.createDataFrame(pdf)
    before = spark.read.parquet(f"{out}/blocks").count()
    stats = vacuum(spark, out)
    after = spark.read.parquet(f"{out}/blocks").count()
    assert stats["block_rows_before"] == before
    assert stats["block_rows_after"] == after < before
    assert stats["bytes_reclaimed"] > 0
    assert verify(spark, full, decode(spark, out))["ok"]

    # idempotent: second vacuum reclaims nothing
    again = vacuum(spark, out)
    assert again["bytes_reclaimed"] == 0


def test_vacuum_on_uri_out_dir(spark, split_batches, tmp_path_factory, monkeypatch):
    """vacuum swaps directories through the session's file system, like
    every other metadata write: a ``file://`` out_dir works and nothing
    lands under the working directory."""
    import os

    from deltoid_spark.jobs import vacuum

    pdf, a, b = split_batches
    cwd = tmp_path_factory.mktemp("vac_cwd")
    monkeypatch.chdir(cwd)
    out = "file://" + str(tmp_path_factory.mktemp("vac_uri"))
    encode(spark, spark.createDataFrame(a), out, target_rows=500)
    encode_append(spark, spark.createDataFrame(b), out)
    compact(spark, out)
    before = spark.read.parquet(f"{out}/blocks").count()
    stats = vacuum(spark, out)
    assert stats["block_rows_before"] == before
    assert stats["block_rows_after"] == spark.read.parquet(f"{out}/blocks").count() < before
    assert stats["bytes_reclaimed"] > 0
    assert verify(spark, spark.createDataFrame(pdf), decode(spark, out))["ok"]
    assert os.listdir(cwd) == []


def test_append_on_clustered_base(spark, split_batches, tmp_path_factory):
    """Chains appended onto a zero-shuffle (fragmented) base must still
    round-trip: encode- and decode-side tail threading walk the same
    (generation, fragment) order."""
    pdf, a, b = split_batches
    out = str(tmp_path_factory.mktemp("clu_app"))
    src = str(tmp_path_factory.mktemp("clu_src"))
    codegen.write_parquet(a.reset_index(drop=True), src, n_shards=6)
    encode(spark, spark.read.parquet(src), out, target_rows=500, mode="clustered")
    encode_append(spark, spark.createDataFrame(b), out)
    full = spark.createDataFrame(pdf)
    report = verify(spark, full, decode(spark, out))
    assert report["ok"], report


def test_append_refuses_failed_base(spark, split_batches, tmp_path_factory):
    """Appending onto a failed partition would strand the appended rows
    behind the healing re-encode's newer replace generation — refuse."""
    _pdf, a, b = split_batches
    out = str(tmp_path_factory.mktemp("appfail"))
    encode(spark, spark.createDataFrame(a), out, target_rows=500,
           _fail_inject="org0/repo0")
    with pytest.raises(ValueError, match="failed base encode"):
        encode_append(spark, spark.createDataFrame(b), out)

    # heal, then the same append goes through and full parity holds
    encode(spark, spark.createDataFrame(a), out, target_rows=500)
    encode_append(spark, spark.createDataFrame(b), out)
    full = spark.createDataFrame(_pdf)
    assert verify(spark, full, decode(spark, out))["ok"]


def test_append_after_vacuum(spark, split_batches, tmp_path_factory):
    """vacuum must preserve the hive run_id block layout so later
    appends (which write run_id=... directories) still read cleanly."""
    from deltoid_spark.jobs import vacuum

    pdf, a, b = split_batches
    out = str(tmp_path_factory.mktemp("vac_app"))
    encode(spark, spark.createDataFrame(a), out, target_rows=500)
    encode(spark, spark.createDataFrame(a), out, target_rows=500, resume=False)  # dead run
    vacuum(spark, out)
    encode_append(spark, spark.createDataFrame(b), out)
    full = spark.createDataFrame(pdf)
    assert verify(spark, full, decode(spark, out))["ok"]


def test_time_travel_over_generations(spark, split_batches, tmp_path_factory):
    """decode(as_of_gen=...) reads the table as of an earlier manifest
    generation; history() exposes the commit log (Iceberg-style time
    travel over the append-only manifest)."""
    from deltoid_spark.jobs import history

    pdf, a, b = split_batches
    out = str(tmp_path_factory.mktemp("travel"))
    encode(spark, spark.createDataFrame(a), out, target_rows=500)
    encode_append(spark, spark.createDataFrame(b), out)
    compact(spark, out)

    hist = history(spark, out).collect()
    kinds = [r["kind"] for r in hist]
    assert kinds == ["replace", "append", "replace"]  # base, append, compact
    g_base, g_append, g_compact = (r["gen"] for r in hist)

    # as of the base commit: only batch a
    base_view = decode(spark, out, as_of_gen=g_base)
    assert base_view.count() == len(a)
    assert verify(spark, spark.createDataFrame(a), base_view)["ok"]

    # as of the append commit: the full table (pre-compaction layout)
    full = spark.createDataFrame(pdf)
    mid_view = decode(spark, out, as_of_gen=g_append)
    assert verify(spark, full, mid_view)["ok"]

    # latest (default) equals the compacted table
    assert verify(spark, full, decode(spark, out))["ok"]

    # vacuum reclaims superseded snapshots: history shrinks to live runs
    from deltoid_spark.jobs import vacuum

    vacuum(spark, out)
    assert verify(spark, full, decode(spark, out))["ok"]
    assert decode(spark, out, as_of_gen=g_base).count() == 0  # expired


def test_history_carries_origin_and_message(spark, split_batches, tmp_path_factory):
    """Caller-supplied commit metadata (origin/msg — the reference
    DeltaSnapshot {timestamp, origin, msg} surface, snapshot/full.rs:
    164-170) rides the manifest rows and surfaces on history(); runs
    without metadata read as nulls, and time travel is unaffected."""
    from deltoid_spark.jobs import history

    pdf, a, b = split_batches
    out = str(tmp_path_factory.mktemp("histmeta"))
    encode(
        spark, spark.createDataFrame(a), out, target_rows=500,
        origin="ingest-job", message="base load",
    )
    encode_append(spark, spark.createDataFrame(b), out)  # no metadata
    compact(spark, out, origin="maintenance")

    hist = history(spark, out).collect()
    assert [(r["kind"], r["origin"], r["msg"]) for r in hist] == [
        ("replace", "ingest-job", "base load"),
        ("append", None, None),
        ("replace", "maintenance", "compact"),
    ]
    # metadata is bookkeeping only: the table content is unchanged
    assert verify(spark, spark.createDataFrame(pdf), decode(spark, out))["ok"]


def test_append_with_nested_columns(spark, tmp_path_factory):
    """Incremental append over a table with struct/array/map columns:
    the append path must route the nested cells through the NESTED
    codec exactly like base encode (including >2^53 ints in arrays)."""
    out = str(tmp_path_factory.mktemp("nested_append"))
    schema = (
        "repo string, path string, commit string, content string, "
        "meta struct<name:string,v:int>, xs array<bigint>, "
        "counts map<string,bigint>"
    )

    def mk(lo, hi):
        rows = []
        for i in range(lo, hi):
            rows.append(
                (
                    f"org/r{i % 2}", f"src/p{i % 10}.py", f"c{i:06d}",
                    f"line{i}\nshared tail",
                    {"name": f"a{i % 4}", "v": i if i % 5 else None},
                    [i, 2**53 + i, None][: i % 4],
                    {f"k{j}": (2**60 + i + j if j % 2 else None) for j in range(i % 3)},
                )
            )
        return spark.createDataFrame(rows, schema)

    base, extra = mk(0, 200), mk(200, 300)
    m0 = encode(spark, base, out, target_rows=80)
    assert all(r["status"] == "committed" for r in m0.collect())
    m1 = encode_append(spark, extra, out, batch_id="nb1")
    assert all(r["status"] == "committed" for r in m1.collect())

    full = mk(0, 300)
    decoded = decode(spark, out)
    assert dict(decoded.dtypes) == dict(full.dtypes)
    assert verify(spark, full, decoded)["ok"]
    orig = {r["commit"]: tuple(r) for r in full.collect()}
    got = {r["commit"]: tuple(r) for r in decoded.collect()}
    assert orig == got


def _nested_table(spark, lo, hi):
    """Rows lo..hi of a code table with a struct and an array<bigint>
    column (values past 2^53 included)."""
    schema = (
        "repo string, path string, commit string, content string, "
        "meta struct<name:string,v:int>, xs array<bigint>"
    )
    rows = [
        (
            f"org/r{i % 2}", f"src/p{i % 8}.py", f"c{i:06d}",
            f"v{i}\ncommon",
            {"name": f"n{i % 3}", "v": None if i % 6 == 0 else i},
            [2**53 + i] * (i % 3),
        )
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(rows, schema)


def test_compact_and_selective_decode_nested(spark, tmp_path_factory):
    """After a nested-column append: compaction folds the fragments
    (re-encoding nested cells wholesale) and column-selective decode
    prunes to a nested column without touching the others' blocks."""
    out = str(tmp_path_factory.mktemp("nested_compact"))
    encode(spark, _nested_table(spark, 0, 160), out, target_rows=60)
    encode_append(spark, _nested_table(spark, 160, 240), out, batch_id="nc1")
    compact(spark, out)

    full = _nested_table(spark, 0, 240)
    decoded = decode(spark, out)
    assert {r["commit"]: tuple(r) for r in decoded.collect()} == {
        r["commit"]: tuple(r) for r in full.collect()
    }
    # selective decode returns exactly the requested columns
    sel = decode(spark, out, columns=["commit", "meta"])
    assert sel.columns == ["commit", "meta"]
    want = {r["commit"]: r["meta"] for r in full.collect()}
    got = {r["commit"]: r["meta"] for r in sel.collect()}
    assert got == want


@pytest.mark.parametrize("table", ["split", "nested"])
def test_compact_payloads_match_reencoded_decode(spark, split_batches, tmp_path_factory, table):
    """compact() replays and re-encodes inside one kernel.  The reference
    path it replaced — decode(with_part_id=True), then make_encode_kernel
    over each partition's rows — must give the same payload bytes for
    every compacted (part_id, column)."""
    out = str(tmp_path_factory.mktemp(f"compact_bytes_{table}"))
    if table == "split":
        _pdf, a, b = split_batches
        encode(spark, spark.createDataFrame(a), out, target_rows=500)
        encode_append(spark, spark.createDataFrame(b), out)
    else:
        encode(spark, _nested_table(spark, 0, 160), out, target_rows=60)
        encode_append(spark, _nested_table(spark, 160, 240), out, batch_id="nc1")

    multi = {
        r["part_id"]
        for r in _manifest_active(spark, f"{out}/manifest")
        .groupBy("part_id").count().filter(F.col("count") > 1).collect()
    }
    assert multi
    info = read_table_spec(spark, out)
    kernel = make_encode_kernel(
        spec=info["spec"], key_cols=info["key_cols"],
        order_cols=info["order_cols"], content_col=info["content_col"],
    )
    want = {
        (r["part_id"], r["column"]): bytes(r["payload"])
        for r in decode(spark, out, with_part_id=True)
        .groupBy("part_id").applyInArrow(kernel, BLOCK_SCHEMA).collect()
        if r["part_id"] in multi
    }

    compact(spark, out)
    run_id = history(spark, out).collect()[-1]["run_id"]
    got = {
        (r["part_id"], r["column"]): bytes(r["payload"])
        for r in spark.read.schema(BLOCK_SCHEMA).parquet(f"{out}/blocks")
        .filter(F.col("run_id") == run_id).collect()
    }
    assert {p for p, _ in got} == multi
    assert got == want


def test_compact_fails_loudly_and_strands_nothing(spark, split_batches, tmp_path_factory):
    """A folded partition whose appended fragment cannot be replayed
    fails compact() as a whole.  No manifest generation is written, so
    the partition's base and appends stay active (a failed replace row
    would hide them, and a vacuum would then delete their blocks), and
    every other partition reads as before."""
    import os
    import shutil

    pdf, a, b = split_batches
    out = str(tmp_path_factory.mktemp("compact_rot"))
    encode(spark, spark.createDataFrame(a), out, target_rows=500)
    encode_append(spark, spark.createDataFrame(b), out)
    hist = history(spark, out).collect()
    append_run = hist[-1]["run_id"]

    # bit rot in ONE appended fragment: its content payload
    blocks_dir = os.path.join(out, "blocks")
    blocks = spark.read.schema(BLOCK_SCHEMA).parquet(blocks_dir)
    victim = blocks.filter(F.col("run_id") == append_run).agg(F.min("part_id")).first()[0]
    rot = (
        (F.col("run_id") == append_run)
        & (F.col("part_id") == victim)
        & (F.col("column") == "content")
    )
    tmp = blocks_dir + "_rot"
    blocks.withColumn(
        "payload", F.when(rot, F.lit(b"\x00rotten")).otherwise(F.col("payload"))
    ).write.mode("overwrite").option("compression", "none").partitionBy(
        "run_id"
    ).parquet(tmp)
    shutil.rmtree(blocks_dir)
    os.rename(tmp, blocks_dir)

    def snapshot():
        active = _manifest_active(spark, f"{out}/manifest")
        return (
            sorted(tuple(r) for r in active.select("part_id", "run_id", "kind", "status").collect()),
            sorted(tuple(r) for r in decode(spark, out, on_error="skip").collect()),
        )

    active_before, rows_before = snapshot()
    assert 0 < len(rows_before) < len(pdf)  # the victim partition is skipped
    with pytest.raises(Exception):
        compact(spark, out)
    assert history(spark, out).count() == len(hist)
    assert snapshot() == (active_before, rows_before)
