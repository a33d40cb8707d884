"""Regression tests for the four round-2 ADVICE findings.

1. high   — _manifest_active dropped append generations for part_ids
            with no replace row (silent data loss).
2. medium — nullable bigint crossed the Arrow->pandas boundary as
            float64, rounding |v| > 2^53.
3. low    — verify()'s per-key (count, min, max) digest aggregate was
            not injective over multisets.
4. low    — encode_append had no idempotent retry path.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
import pytest

from deltoid_spark.fixtures import codegen
from deltoid_spark.jobs import decode, encode, encode_append, verify


@pytest.fixture(scope="module")
def giant_only():
    """Base batch holding ONLY the giant repo: the shared small-key
    bucket gets a partition id but no rows, hence no manifest row."""
    pdf = codegen.generate(2_000)
    return pdf[pdf["repo"] == "org0/repo0"].reset_index(drop=True)


def test_append_into_bucket_with_no_base_rows(spark, giant_only, tmp_path_factory):
    """ADVICE-high: an append whose keys hash into a bucket the base run
    left empty has no 'replace' anchor; its rows must still decode."""
    out = str(tmp_path_factory.mktemp("emptybucket"))
    encode(spark, spark.createDataFrame(giant_only), out, target_rows=500)

    new = giant_only.head(3).copy()
    new["repo"] = "brand/new-repo"
    new["path"] = "src/fresh_" + new["path"].str.replace("/", "_")
    encode_append(spark, spark.createDataFrame(new), out)

    decoded = decode(spark, out)
    assert decoded.filter(F.col("repo") == "brand/new-repo").count() == 3
    combined = spark.createDataFrame(pd.concat([giant_only, new], ignore_index=True))
    assert verify(spark, combined, decoded)["ok"]


def test_bigint_beyond_2p53_roundtrips_exactly(spark, tmp_path_factory):
    """ADVICE-medium: nullable bigint with |v| > 2^53 must round-trip
    bit-exact (the float64 boundary would round 2^53+1 to 2^53)."""
    out = str(tmp_path_factory.mktemp("bigint53"))
    rows = [
        ("r", "a.py", "c0", "x", 2**53 + 1),
        ("r", "a.py", "c1", "x", -(2**62) - 7),
        ("r", "b.py", "c0", "y", None),
        ("r", "b.py", "c1", "y", 2**63 - 1),
    ]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, content string, stars bigint"
    )
    encode(spark, df, out, target_rows=100)
    decoded = decode(spark, out)
    got = {(r["path"], r["commit"]): r["stars"] for r in decoded.collect()}
    want = {(p, c): s for (_r, p, c, _x, s) in rows}
    assert got == want
    assert verify(spark, df, decoded)["ok"]


def test_bigint_beyond_2p53_appends_exactly(spark, tmp_path_factory):
    """The cogroup append path shields ints too."""
    out = str(tmp_path_factory.mktemp("bigint53app"))
    ddl = "repo string, path string, commit string, content string, stars bigint"
    base = spark.createDataFrame([("r", "a.py", "c0", "x", 1)], ddl)
    batch = spark.createDataFrame(
        [("r", "a.py", "c1", "x2", 2**53 + 1), ("r", "a.py", "c2", "x3", None)], ddl
    )
    encode(spark, base, out, target_rows=100)
    encode_append(spark, batch, out)
    got = {r["commit"]: r["stars"] for r in decode(spark, out).collect()}
    assert got == {"c0": 1, "c1": 2**53 + 1, "c2": None}


def test_storage_int64_rejects_unprovable_floats():
    """Direct (unshielded) kernel callers with float64 past 2^53 fail
    loudly instead of corrupting."""
    import pyarrow as pa

    from deltoid_spark.jobs.coltypes import storage as _storage

    s = pa.array([float(2**53 + 2), None], pa.float64())
    with pytest.raises(ValueError, match="2\\^53"):
        _storage(s, "bigint")
    # small floats (the benign legacy boundary) still pass
    ok = _storage(pa.array([1.0, None], pa.float64()), "bigint")
    assert ok.to_pylist()[0] == 1 and ok.is_null().to_pylist() == [False, True]


def test_verify_detects_multiset_swap(spark):
    """ADVICE-low: duplicate-key groups {A,B,B} vs {A,A,B} must mismatch
    (the old count/min/max aggregate passed them as equal)."""
    ddl = "repo string, path string, commit string, content string"
    orig = spark.createDataFrame(
        [("r", "p", "c", "A"), ("r", "p", "c", "B"), ("r", "p", "c", "B")], ddl
    )
    swapped = spark.createDataFrame(
        [("r", "p", "c", "A"), ("r", "p", "c", "A"), ("r", "p", "c", "B")], ddl
    )
    assert verify(spark, orig, orig.select("*"))["ok"]
    report = verify(spark, orig, swapped)
    assert not report["ok"] and report["mismatched"] == 1


def test_append_retry_with_batch_id_is_idempotent(spark, tmp_path_factory):
    """ADVICE-low: a partially failed append re-run under the same
    batch_id re-encodes only the failed partitions — no duplicates."""
    pdf = codegen.generate(2_000).sort_values(
        ["repo", "path", "commit"], kind="mergesort"
    )
    rank = pdf.groupby(["repo", "path"]).cumcount()
    sizes = pdf.groupby(["repo", "path"])["commit"].transform("size")
    first = rank < (sizes + 1) // 2
    a, b = pdf[first].reset_index(drop=True), pdf[~first].reset_index(drop=True)

    out = str(tmp_path_factory.mktemp("appretry"))
    encode(spark, spark.createDataFrame(a), out, target_rows=500)

    # first attempt: the giant repo's partitions fail, the rest commit
    m1 = encode_append(
        spark, spark.createDataFrame(b), out,
        batch_id="B1", _fail_inject="org0/repo0",
    )
    st1 = [(r["kind"], r["status"]) for r in m1.collect()]
    assert ("append", "failed") in st1 and ("append", "committed") in st1

    # retry the SAME batch id without the poison: only failed partitions
    # re-encode; previously committed partitions are skipped.  (The old
    # failed generation stays in the head as a diagnostic; decode reads
    # committed rows only.)  Every touched partition must now have a
    # committed append generation.
    m2 = encode_append(spark, spark.createDataFrame(b), out, batch_id="B1")
    app = m2.filter(F.col("kind") == "append").collect()
    failed_parts = {r["part_id"] for r in app if r["status"] == "failed"}
    committed_parts = {r["part_id"] for r in app if r["status"] == "committed"}
    assert failed_parts <= committed_parts  # every failure healed
    decoded = decode(spark, out)
    assert decoded.count() == len(pdf)  # no duplicated committed partitions
    assert verify(spark, spark.createDataFrame(pdf), decoded)["ok"]

    # re-running an already fully committed batch id is a no-op
    m3 = encode_append(spark, spark.createDataFrame(b), out, batch_id="B1")
    assert decode(spark, out).count() == len(pdf)
    assert m3.count() == m2.count()


def test_decode_strict_raises_on_failed_partitions(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("strictdec"))
    pdf = codegen.generate(2_000)
    df = spark.createDataFrame(pdf)
    encode(spark, df, out, target_rows=500, _fail_inject="org0/repo0")
    with pytest.raises(ValueError, match="failed encodes"):
        decode(spark, out, strict=True).count()
    # non-strict decodes the committed subset as before
    assert 0 < decode(spark, out).count() < len(pdf)
    # heal, then strict decode succeeds with full parity
    encode(spark, df, out, target_rows=500)
    assert verify(spark, df, decode(spark, out, strict=True))["ok"]
