"""Fixture generator + reference-encoder yardstick tests."""

from __future__ import annotations

import pandas as pd
import pytest

from deltoid_spark.fixtures import codegen
import reference_encoder as ref


@pytest.fixture(scope="module")
def tiny():
    return codegen.generate(2_000)


def test_deterministic(tiny):
    again = codegen.generate(2_000)
    pd.testing.assert_frame_equal(tiny, again)


def test_schema_and_size(tiny):
    assert list(tiny.columns) == ["repo", "path", "commit", "lang", "content"]
    assert len(tiny) >= 2_000
    assert tiny.notna().all().all()


def test_zipf_giant_repo(tiny):
    counts = tiny["repo"].value_counts()
    # one repo holds a large share of rows (skew fixture for salting)
    assert counts.iloc[0] / len(tiny) > 0.35


def test_chains_ordered_by_commit(tiny):
    g = tiny[tiny["repo"] == tiny["repo"].iloc[0]]
    one = g[g["path"] == g["path"].iloc[0]].sort_values("commit")
    # sortable prefix encodes version order: 0,1,2,...
    versions = [int(c[:8], 16) for c in one["commit"]]
    assert versions == list(range(len(versions)))


def test_edge_rows_present(tiny):
    repos = set(tiny["repo"])
    for r in ["edge/empty", "edge/crlf", "edge/unicode", "edge/dup", "edge/random"]:
        assert r in repos
    assert (tiny["content"] == "").any()


def test_reference_encoder_roundtrip():
    rows = [
        {"repo": "r", "path": "p", "commit": "c0", "lang": "python", "content": "a\nb"},
        {"repo": "r", "path": "p", "commit": "c1", "lang": "python", "content": "a\nB"},
        {"repo": "r", "path": "p", "commit": "c2", "lang": "python", "content": "a\nB"},
    ]
    doc = ref.encode_chain_json(rows)
    out = ref.decode_chain_json(doc)
    assert [r["content"] for r in out] == ["a\nb", "a\nB", "a\nB"]
    # unchanged fields are None in the delta (sparsity convention)
    import json
    snaps = json.loads(doc)["snapshots"]
    assert snaps[2]["delta"]["content"] is None
    assert snaps[1]["delta"]["repo"] is None


def test_reference_bytes_scale(tiny):
    sample = tiny.head(500)
    total = ref.reference_encoded_bytes(sample)
    raw = int(sample["content"].str.len().sum())
    # full-replacement JSON chains cost at least the raw changed bytes
    assert total > raw * 0.8
