"""End-to-end J1 -> J2 -> J3 on the synthetic fixture (SURVEY.md §5.2).

Gates: 100% sha256 parity, compressed size < reference-semantics
encoder, resume-after-partial-manifest reproduces identical output.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

import reference_encoder as ref
from deltoid_spark.fixtures import codegen
from deltoid_spark.jobs import assign_partitions, decode, encode, metrics_summary, verify

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def tiny_pdf():
    return codegen.generate(2_000)


@pytest.fixture(scope="module")
def tiny_df(spark, tiny_pdf):
    return spark.createDataFrame(tiny_pdf)


def test_partition_assignment_deterministic_and_chain_safe(spark, tiny_df):
    df1, n1 = assign_partitions(tiny_df, target_rows=500)
    df2, n2 = assign_partitions(tiny_df, target_rows=500)
    assert n1 == n2
    a = {(r["repo"], r["path"], r["commit"]): r["part_id"] for r in df1.collect()}
    b = {(r["repo"], r["path"], r["commit"]): r["part_id"] for r in df2.collect()}
    assert a == b
    # chain-safety: a (repo, path) group never spans two partitions
    spans = (
        df1.groupBy("repo", "path")
        .agg(F.countDistinct("part_id").alias("np"))
        .filter(F.col("np") > 1)
        .count()
    )
    assert spans == 0
    # the giant repo is split across several partitions (salting works)
    giant = df1.filter(F.col("repo") == "org0/repo0")
    assert giant.select("part_id").distinct().count() > 1


def test_e2e_parity_and_size(spark, tiny_df, tiny_pdf, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("enc"))
    manifest = encode(spark, tiny_df, out, target_rows=500)
    summary = metrics_summary(manifest)
    assert summary["rows"] == len(tiny_pdf)
    assert summary["partitions"] > 1

    decoded = decode(spark, out)
    report = verify(spark, tiny_df, decoded)
    assert report["ok"], report

    ref_bytes = ref.reference_encoded_bytes(tiny_pdf)
    assert summary["enc_bytes"] < ref_bytes, (summary["enc_bytes"], ref_bytes)
    # and substantially so: chain+zstd should be way under full-replacement JSON
    assert summary["enc_bytes"] < ref_bytes * 0.5


def test_resume_after_partial_manifest(spark, tiny_df, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("resume"))
    encode(spark, tiny_df, out, target_rows=500)
    full = {
        (r["repo"], r["path"], r["commit"]): r["content"]
        for r in decode(spark, out).collect()
    }

    # simulate a crash: drop half the manifest rows (keep blocks: torn state)
    mpath = os.path.join(out, "manifest")
    m = spark.read.parquet(mpath).collect()
    keep = [r for r in m if r["part_id"] % 2 == 0]
    spark.createDataFrame(keep, spark.read.parquet(mpath).schema).write.mode(
        "overwrite"
    ).parquet(mpath)

    manifest2 = encode(spark, tiny_df, out, target_rows=500)  # resume
    assert manifest2.count() == len(m)  # all partitions committed again
    resumed = {
        (r["repo"], r["path"], r["commit"]): r["content"]
        for r in decode(spark, out).collect()
    }
    assert resumed == full


def test_codec_choices_recorded(spark, tiny_df, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("codecs"))
    manifest = encode(spark, tiny_df, out, target_rows=500)
    import json

    codec_maps = [json.loads(r["codecs"]) for r in manifest.collect()]
    assert all(set(c) == {"repo", "path", "commit", "lang", "content"} for c in codec_maps)
    # content: the kernel trials CHAIN vs whole-column PLAIN per
    # partition and records the winner (plain can win on tiny partitions
    # where zstd's window spans the whole chain set; CHAIN wins at
    # realistic partition sizes — asserted in test_kernels.py)
    assert all(c["content"] in ("chain", "plain") for c in codec_maps)
    # hex and plain-zstd are near-equivalent on hex ids (zstd's entropy
    # coder also packs nibbles); either is a legitimate min-size pick
    assert all(c["commit"] in ("hex", "plain") for c in codec_maps)


def test_empty_input(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("empty"))
    empty = spark.createDataFrame(
        [], "repo string, path string, commit string, lang string, content string"
    )
    manifest = encode(spark, empty, out, target_rows=100)
    assert manifest.count() == 0
    assert decode(spark, out).count() == 0


def test_encode_output_deterministic_across_runs_and_parallelism(spark, tiny_df, tmp_path_factory):
    """Same input -> byte-identical payload SET regardless of run or
    (for grouped mode) shuffle parallelism — the job-level analog of the
    kernel golden-determinism test (checkpoint resume verifies work by
    hash, so this is a hard invariant)."""
    import hashlib

    def payload_set(out):
        rows = spark.read.parquet(f"{out}/blocks").select(
            "part_id", "frag_id", "column", "payload"
        ).collect()
        return sorted(
            (r["part_id"], r["frag_id"], r["column"],
             hashlib.sha256(bytes(r["payload"])).hexdigest())
            for r in rows
        )

    out1 = str(tmp_path_factory.mktemp("det1"))
    out2 = str(tmp_path_factory.mktemp("det2"))
    encode(spark, tiny_df, out1, target_rows=500)
    encode(spark, tiny_df.repartition(13), out2, target_rows=500)
    assert payload_set(out1) == payload_set(out2)


def test_clustered_failure_isolation(spark, tiny_df, tmp_path_factory):
    """Per-part-group try/except also holds in zero-shuffle mode."""
    from deltoid_spark.jobs import decode as _decode

    out = str(tmp_path_factory.mktemp("clupoison"))
    manifest = encode(
        spark, tiny_df, out, target_rows=500, mode="clustered",
        _fail_inject="org0/repo0",
    )
    rows = manifest.collect()
    assert any(r["status"] == "failed" for r in rows)
    assert any(r["status"] == "committed" for r in rows)
    decoded = _decode(spark, out)
    assert decoded.filter(F.col("repo") == "org0/repo0").count() == 0
    assert decoded.count() > 0


def test_training_data_pipeline_journey(spark, tmp_path_factory):
    """The full user journey over one corpus: encode it as a snapshot
    store, decode it back bit-exact, then run the curation pipeline on
    the decoded frame — near-dup clusters, canonical selection,
    decontamination, packing, splits — asserting the stages compose
    (every keeper is a clustered doc, packs cover every doc exactly
    once, splits partition the corpus)."""
    import pyspark.sql.functions as F

    from deltoid_spark.functions import dedup, packing
    from deltoid_spark.jobs import decode, encode, verify

    out = str(tmp_path_factory.mktemp("journey"))
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .withColumnRenamed("text", "content")
    )
    # snapshot-store leg: documents as a single-version code table
    table = docs.select(
        F.col("source").alias("repo"),
        F.concat_ws("/", F.lit("doc"), F.col("doc_id").cast("string")).alias("path"),
        F.lit("c0").alias("commit"),
        F.col("lang"),
        F.col("content"),
    )
    manifest = encode(spark, table, out, target_rows=200)
    assert all(r["status"] == "committed" for r in manifest.collect())
    decoded = decode(spark, out)
    assert verify(spark, table, decoded)["ok"]

    # curation leg over the DECODED corpus
    corpus = decoded.select(
        F.split(F.col("path"), "/")[1].cast("long").alias("doc_id"),
        F.col("content").alias("text"),
        "lang",
        F.length("content").alias("n_chars"),
    )
    n = corpus.count()
    clusters = dedup.dup_clusters(corpus)
    keep = dedup.dedup_select(corpus)
    clustered = {r["doc_id"] for r in clusters.collect()}
    keepers = {r["keeper"] for r in keep.collect()}
    assert keepers <= clustered  # every keeper is in some cluster

    packs = packing.pack_stats(corpus, budget=2048)
    assert sum(r["n_docs"] for r in packs.collect()) == n  # total coverage

    splits = packing.hash_split(corpus)
    by_split = {r["split"]: r["n"] for r in
                splits.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(by_split.values()) == n  # a partition of the corpus

    bench_docs = corpus.filter(F.col("doc_id") % 10 == 0)
    flags = dedup.contamination(corpus.filter(F.col("doc_id") % 10 != 0), bench_docs)
    assert flags.count() == corpus.filter(F.col("doc_id") % 10 != 0).count()


def test_cli_subcommands_end_to_end(tmp_path_factory):
    """Drive every CLI subcommand through real argv parsing in one
    subprocess (one JVM: the per-command spark.stop is deferred until
    the end so the chain encode -> append -> compact -> metrics ->
    vacuum -> decode -> verify runs at test speed)."""
    import json as _json
    import subprocess
    import sys as _sys

    base = str(tmp_path_factory.mktemp("cli"))
    script = f"""
import json, os, sys
sys.path.insert(0, {REPO!r})
from deltoid_spark.fixtures import codegen
import deltoid_spark.__main__ as cli

base = {base!r}
pdf = codegen.generate(800)
half = len(pdf) // 2
pdf.iloc[:half].to_parquet(os.path.join(base, "a.parquet"), index=False)
pdf.iloc[half:].to_parquet(os.path.join(base, "b.parquet"), index=False)
pdf.to_parquet(os.path.join(base, "full.parquet"), index=False)
out = os.path.join(base, "state")

# reuse one JVM across main() calls: defer the per-command stop
from deltoid_spark import session as sess
real_get = sess.get_spark
shared = {{}}
def get_once(**kw):
    if "s" not in shared:
        shared["s"] = real_get()
        shared["stop"] = shared["s"].stop
        shared["s"].stop = lambda: None
    return shared["s"]
sess.get_spark = get_once

rc = 0
rc |= cli.main(["encode", "--input", os.path.join(base, "a.parquet"), "--out", out,
                "--target-rows", "300", "--origin", "cli-test", "--message", "base"])
rc |= cli.main(["append", "--input", os.path.join(base, "b.parquet"), "--out", out])
rc |= cli.main(["compact", "--out", out])
rc |= cli.main(["history", "--out", out])
rc |= cli.main(["metrics", "--out", out])
rc |= cli.main(["vacuum", "--out", out])
rc |= cli.main(["decode", "--out", out, "--dest", os.path.join(base, "dec.parquet")])
rc |= cli.main(["decode", "--out", out, "--where", "lang:in:python,go",
                "--dest", os.path.join(base, "dec_in.parquet")])
import pandas as _pd
_di = _pd.read_parquet(os.path.join(base, "dec_in.parquet"))
assert len(_di) > 0 and set(_di["lang"]) <= {{"python", "go"}}, set(_di["lang"])
rc |= cli.main(["verify", "--input", os.path.join(base, "full.parquet"), "--out", out])
shared["stop"]()
print("CLI_RC", rc)
"""
    proc = subprocess.run(
        [_sys.executable, "-c", script], capture_output=True, text=True, timeout=600
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out_lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    assert "CLI_RC 0" in out_lines[-1], proc.stdout[-1000:]
    # every command printed a JSON line
    jsons = [ln for ln in out_lines if ln.startswith("{")]
    assert len(jsons) >= 6
    report = _json.loads(jsons[-1])
    assert report["ok"] is True
    # history printed the commit log with the CLI-supplied metadata
    hist = _json.loads([ln for ln in out_lines if ln.startswith("[")][-1])
    assert [h["kind"] for h in hist] == ["replace", "append", "replace"]
    assert (hist[0]["origin"], hist[0]["msg"]) == ("cli-test", "base")
    assert hist[2]["msg"] == "compact"
