"""Golden-metrics regression (FIXTURES.md F5): for the tiny fixture at
seed 42, the encoder's behavior is pinned — codec choices per column,
compression-ratio ceilings, and byte-determinism of every block.

(The exact byte counts depend on the zstd build, so the goldens are
structural: choices, bounds, and determinism — the analog of the
reference's golden serialized-delta assertions,
/root/reference/deltoid/src/string.rs:146-160.)
"""

from __future__ import annotations

from deltoid_spark.fixtures import codegen
from deltoid_spark.jobs.pipeline import make_encode_kernel
from deltoid_spark.kernels import api


def _run_kernel(pdf):
    """The kernel is arrow-typed now (applyInArrow): table in, table out."""
    import pyarrow as pa

    return make_encode_kernel()(pa.Table.from_pandas(pdf)).to_pandas()


def _encode_tiny():
    pdf = codegen.generate(2_000).copy()
    pdf["part_id"] = 0
    return _run_kernel(pdf)


def test_codec_choices_golden():
    out = _encode_tiny().set_index("column")
    # content: kernel trials CHAIN vs whole-column PLAIN and keeps the min
    assert out.loc["content", "codec"] in ("chain", "plain")
    assert out.loc["lang", "codec"] in ("dict", "rle", "front")
    # repo/path sort into long runs of shared-prefix values — the run
    # codecs (rle/front) should win once the trial sees real structure
    assert out.loc["repo", "codec"] in ("dict", "rle", "front", "plain")
    assert out.loc["path", "codec"] in ("rle", "front", "dict", "plain")
    assert out.loc["commit", "codec"] in ("hex", "plain")


def test_ratio_bounds_golden():
    out = _encode_tiny()
    total_raw = out["raw_bytes"].sum()
    total_enc = out["enc_bytes"].sum()
    assert total_enc / total_raw < 0.12, total_enc / total_raw
    content = out.set_index("column").loc["content"]
    assert content["enc_bytes"] / content["raw_bytes"] < 0.12


def test_blocks_byte_deterministic():
    a = _encode_tiny()
    b = _encode_tiny()
    for (_, ra), (_, rb) in zip(a.iterrows(), b.iterrows()):
        assert bytes(ra["payload"]) == bytes(rb["payload"]), ra["column"]


def test_decode_matches_sorted_input():
    pdf = codegen.generate(2_000).copy()
    pdf["part_id"] = 0
    out = _run_kernel(pdf)
    ordered = pdf.sort_values(["repo", "path", "commit"], kind="mergesort").reset_index(drop=True)
    for _, row in out.iterrows():
        col = row["column"]
        dec = api.decode_block(bytes(row["payload"]))
        assert dec.tolist() == ordered[col].tolist(), col


# sha256 over the (column, codec, payload) rows of the seed-42 2k-row
# kernel output and of one appended fragment (the second half of every
# chain, encoded against the first half's blocks).  Recorded with
# pyarrow 16.1.0, whose bundled zstd produced the payloads; another
# zstd build may emit different (still decodable) bytes, so a mismatch
# under a different pyarrow means "re-record", not "broken".
GOLDEN_ENCODE_SHA = "6b7d7bf81d4e3c3dae18be0a69a332b23de09f066fe24b0e16b78ade7dc37d93"
GOLDEN_APPEND_SHA = "2680da1a993e0f1591a1a08a5ba0f7b1a864c5b87f7f4de87c81075fcfe5dee5"


def _rows_sha(tbl) -> str:
    import hashlib

    h = hashlib.sha256()
    cols = (tbl.column(c).to_pylist() for c in ("column", "codec", "payload"))
    for col, codec, payload in zip(*cols):
        for part in (col.encode(), codec.encode(), payload):
            h.update(len(part).to_bytes(8, "little"))
            h.update(part)
    return h.hexdigest()


def test_encoded_bytes_golden():
    import pyarrow as pa

    from deltoid_spark.jobs import pipeline

    pdf = codegen.generate(2_000).copy()
    pdf["part_id"] = 0
    assert _rows_sha(make_encode_kernel()(pa.Table.from_pandas(pdf))) == GOLDEN_ENCODE_SHA

    rows = pdf.sort_values(["repo", "path", "commit"], kind="mergesort")
    rank = rows.groupby(["repo", "path"]).cumcount()
    sizes = rows.groupby(["repo", "path"])["commit"].transform("size")
    first = rank < (sizes + 1) // 2
    base = make_encode_kernel()(
        pa.Table.from_pandas(rows[first].reset_index(drop=True), preserve_index=False)
    )
    append = pipeline.make_append_kernel(
        pipeline.DEFAULT_SPEC, pipeline.DEFAULT_KEY_COLS, pipeline.DEFAULT_ORDER_COLS,
        pipeline.DEFAULT_CONTENT_COL, 32, None, "local",
    )
    frag = append(
        pa.Table.from_pandas(rows[~first].reset_index(drop=True), preserve_index=False), base
    )
    assert frag.column("frag_id").to_pylist() == [1] * 5
    assert _rows_sha(frag) == GOLDEN_APPEND_SHA
