"""Replay only what a read or an append needs.

- The chain decoder replays a chosen set of its groups
  (``decode_chain_arrow(groups=mask)``): the rows equal the full
  decode's rows of those groups, and no other group is folded.
- The decode kernel picks rows (version selection, then the where=
  predicates) before replaying content, so only the chains of keys
  that hold a picked row replay; the rows returned are the rows a
  full decode plus Spark's filter returns.
- Seeded appends map every seed text into code space with one
  ``index_in`` per block; the per-group mapping it replaced is the
  reference here.
- The prune pass's Bloom probe is a JVM expression that answers as
  the Python probe it replaced (``bloom_maybe_any``, kept here as the
  reference), with no Python stage in its plan.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyspark.sql.functions as F
import pytest

from deltoid_spark.fixtures import codegen
from deltoid_spark.jobs import decode, encode, encode_append
from deltoid_spark.jobs import pipeline
from deltoid_spark.kernels import blocks, bloom, chain

K = 8  # keyframe cadence of the chain fixtures: long groups cross several


def _evolve(rng, text: str) -> str:
    """One random next version: a line edit, a middle insert, an
    append, a tail remove or a one-char change (char-splice material)."""
    lines = text.split("\n")
    op = rng.integers(0, 5)
    if op == 0:
        lines[rng.integers(0, len(lines))] = f"edit {rng.integers(10**6)}"
    elif op == 1:
        lines.insert(rng.integers(0, len(lines) + 1), f"ins {rng.integers(10**6)}")
    elif op == 2:
        lines.append(f"add {rng.integers(10**6)}")
    elif op == 3 and len(lines) > 1:
        del lines[rng.integers(1, len(lines)):]
    else:
        j = rng.integers(0, len(lines))
        c = rng.integers(0, len(lines[j]) + 1)
        lines[j] = lines[j][:c] + "Z" + lines[j][c + 1:]
    return "\n".join(lines)


def _chain_fixture(seed: int, n_groups: int = 40):
    """Chains with seeded groups (base text plus version count, some on
    the keyframe cadence), null rows, groups longer than the cadence
    and long one-line files whose seeded first version is a one-char
    edit (the char-splice streams)."""
    rng = np.random.default_rng(seed)
    rows, sizes, bases, versions = [], [], [], []
    for g in range(n_groups):
        if rng.random() < 0.3:
            text = "L" * 150 + str(g) + "M" * 150
        else:
            text = "\n".join(f"line {g} {i}" for i in range(int(rng.integers(1, 12))))
        if rng.random() < 0.5:
            bases.append(text)
            versions.append(int(rng.integers(1, 20)))
            text = _evolve(rng, text)
        else:
            bases.append(None)
            versions.append(0)
        size = int(rng.integers(1, 30))
        for _ in range(size):
            if rng.random() < 0.08:
                rows.append(None)
            else:
                rows.append(text)
                text = _evolve(rng, text)
        sizes.append(size)
    return rows, np.array(sizes), bases, np.array(versions)


@pytest.mark.parametrize("seed", range(12))
def test_group_selective_replay_equals_full_decode(seed):
    rows, sizes, bases, versions = _chain_fixture(seed)
    buf = chain.encode_chain(
        pa.array(rows, type=pa.large_utf8()), sizes, keyframe_interval=K,
        base_texts=bases, base_versions=versions,
    )
    _, meta, payload = blocks.unframe(buf)
    assert meta["seeded"]
    full = chain.decode_chain_arrow(meta, payload, base_texts=bases).to_pylist()
    assert full == rows
    rng = np.random.default_rng(seed + 1000)
    masks = [rng.random(len(sizes)) < q for q in (0.1, 0.4, 0.8)]
    masks += [np.zeros(len(sizes), bool), np.ones(len(sizes), bool)]
    for mask in masks:
        got = chain.decode_chain_arrow(meta, payload, base_texts=bases, groups=mask)
        # the fold's output holds exactly the selected groups' rows
        assert len(got) == int(sizes[mask].sum())
        want = [r for r, keep in zip(rows, np.repeat(mask, sizes)) if keep]
        assert got.to_pylist() == want
    # an unselected seeded group needs no base text
    unseeded_only = np.array([b is None for b in bases])
    got = chain.decode_chain_arrow(
        meta, payload, base_texts=[None] * len(bases), groups=unseeded_only
    )
    assert got.to_pylist() == [r for r, k in zip(rows, np.repeat(unseeded_only, sizes)) if k]
    with pytest.raises(ValueError, match="base_texts"):
        chain.decode_chain_arrow(meta, payload)


def test_char_splice_streams_restricted():
    """Two seeded one-line files whose first versions take the
    char-splice refinement: each selects and decodes alone."""
    bases = ["a" * 200 + "1" + "b" * 200, "c" * 300 + "2" + "d" * 300]
    rows = [bases[0].replace("1", "X"), "short", bases[1].replace("2", "Y")]
    buf = chain.encode_chain(
        pa.array(rows, type=pa.large_utf8()), np.array([2, 1]),
        base_texts=bases, base_versions=np.array([1, 1]),
    )
    _, meta, payload = blocks.unframe(buf)
    assert meta["n_edits"] >= 2 and "cb_len" in meta
    for mask, want in (([True, False], rows[:2]), ([False, True], rows[2:])):
        got = chain.decode_chain_arrow(meta, payload, base_texts=bases, groups=np.array(mask))
        assert got.to_pylist() == want


# ---------------------------------------------------------- seed mapping ----


def _seed_codes_per_group(texts: list[str], line_dict: pa.Array) -> list[np.ndarray]:
    """The per-group mapping the block-wide one replaced: one
    ``index_in`` per text, misses numbered -1, -2, ... in
    first-appearance order across the texts."""
    unseen: dict[str, int] = {}
    out = []
    for text in texts:
        lines = text.split("\n")
        hits = pc.index_in(
            pa.array(lines, type=pa.large_utf8()), value_set=line_dict
        ).fill_null(-1).to_numpy(zero_copy_only=False).astype(np.int64)
        for j, ln in enumerate(lines):
            if hits[j] < 0:
                hits[j] = unseen.setdefault(ln, -(len(unseen) + 1))
        out.append(hits)
    return out


def test_seed_code_table_matches_per_group_reference():
    rng = np.random.default_rng(7)
    vocab = [f"v{i}" for i in range(50)] + ["", "a\x00b", "日本", "x" * 90]
    line_dict = pa.array(vocab[:30], type=pa.large_utf8())
    texts = [
        "\n".join(rng.choice(vocab, size=int(rng.integers(1, 9))).tolist())
        for _ in range(40)
    ] + ["", "\n", "v49\nv49"]
    codes, offs = chain._seed_code_table(texts, line_dict)
    want = _seed_codes_per_group(texts, line_dict)
    assert [codes[offs[j] : offs[j + 1]].tolist() for j in range(len(texts))] == [
        w.tolist() for w in want
    ]


def test_seeded_append_makes_one_index_in_call(monkeypatch):
    """A seeded block maps its seeds with one index_in, however many
    groups continue a chain."""
    rows, sizes, bases, versions = _chain_fixture(3, n_groups=60)
    calls = []
    real = pc.index_in

    def counting(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(pc, "index_in", counting)
    buf = chain.encode_chain(
        pa.array(rows, type=pa.large_utf8()), sizes, keyframe_interval=K,
        base_texts=bases, base_versions=versions,
    )
    assert sum(b is not None for b in bases) > 10
    assert len(calls) == 1
    _, meta, payload = blocks.unframe(buf)
    assert chain.decode_chain_arrow(meta, payload, base_texts=bases).to_pylist() == rows


# ------------------------------------------------------- decode kernel ----


@pytest.fixture(scope="module")
def two_fragment_blocks():
    """One partition as block rows: a base fragment holding the first
    half of every chain and an appended fragment continuing it (seeded
    groups), as the decode kernel receives them."""
    pdf = codegen.generate(4_000).copy()  # long enough that CHAIN beats PLAIN
    pdf["part_id"] = 0
    rows = pdf.sort_values(["repo", "path", "commit"], kind="mergesort")
    rank = rows.groupby(["repo", "path"]).cumcount()
    sizes = rows.groupby(["repo", "path"])["commit"].transform("size")
    first = rank < (sizes + 1) // 2
    base = pipeline.make_encode_kernel()(
        pa.Table.from_pandas(rows[first].reset_index(drop=True), preserve_index=False)
    )
    frag = pipeline.make_append_kernel(
        pipeline.DEFAULT_SPEC, pipeline.DEFAULT_KEY_COLS, pipeline.DEFAULT_ORDER_COLS,
        pipeline.DEFAULT_CONTENT_COL, 32, "local",
    )(pa.Table.from_pandas(rows[~first].reset_index(drop=True), preserve_index=False), base)
    blk = pa.concat_tables([base, frag])
    blk = blk.append_column("gen", blk.column("frag_id"))
    return rows.drop(columns="part_id").reset_index(drop=True), blk


def _replayed_rows(monkeypatch):
    """A counter of the content rows the chain decoder folds."""
    seen = []
    real = chain.decode_chain_arrow

    def counting(*a, **kw):
        out = real(*a, **kw)
        seen.append(len(out))
        return out

    monkeypatch.setattr(chain, "decode_chain_arrow", counting)
    return seen


def test_decode_kernel_replays_only_the_picked_keys(two_fragment_blocks, monkeypatch):
    rows, blk = two_fragment_blocks
    spec, keys = pipeline.DEFAULT_SPEC, pipeline.DEFAULT_KEY_COLS
    content = blk.filter(pc.equal(blk.column("column"), "content"))
    assert sorted(set(content.column("codec").to_pylist())) == ["chain"]
    probes = rows["commit"].sample(5, random_state=1).tolist()
    preds = pipeline._parse_where(("commit", probes), spec)
    seen = _replayed_rows(monkeypatch)
    out = pipeline.make_decode_kernel(spec, keys, "content", preds=preds)(blk).to_pandas()
    want = rows[rows["commit"].isin(probes)]
    assert sorted(out["commit"]) == sorted(want["commit"])
    assert dict(zip(out["commit"], out["content"])) == dict(
        zip(want["commit"], want["content"])
    )
    # the counter: every row of the probed keys' chains, in both
    # fragments, and no other row
    hit = rows[["repo", "path"]].apply(tuple, axis=1).isin(
        set(want[["repo", "path"]].apply(tuple, axis=1))
    )
    assert sum(seen) == int(hit.sum())
    assert sum(seen) * 10 < len(rows)

    seen.clear()
    full = pipeline.make_decode_kernel(spec, keys, "content")(blk)
    assert sum(seen) == len(rows) == full.num_rows


def test_decode_kernel_version_then_predicate(two_fragment_blocks):
    """latest_only / at_version pick first, then the predicate: the rows
    are those a full version-pruned decode plus the filter returns."""
    rows, blk = two_fragment_blocks
    spec, keys = pipeline.DEFAULT_SPEC, pipeline.DEFAULT_KEY_COLS
    repos = sorted(rows["repo"].unique())
    lo, hi = repos[1], repos[3]
    probes = rows["commit"].sample(40, random_state=2).tolist()
    cases = [
        (("repo", lo, hi), lambda f: (f["repo"] >= lo) & (f["repo"] <= hi)),
        (("commit", probes), lambda f: f["commit"].isin(probes)),
    ]
    for where, cond in cases:
        preds = pipeline._parse_where(where, spec)
        for kw in ({"latest_only": True}, {"at_version": 0}, {"at_version": 2}):
            full = pipeline.make_decode_kernel(spec, keys, "content", **kw)(blk).to_pandas()
            got = pipeline.make_decode_kernel(
                spec, keys, "content", preds=preds, **kw
            )(blk).to_pandas()
            want = full[cond(full)]
            assert len(got) and len(got) < len(full)
            assert sorted(map(tuple, got.astype(str).to_numpy())) == sorted(
                map(tuple, want.astype(str).to_numpy())
            )


def test_append_kernel_replays_only_continued_chains(two_fragment_blocks, monkeypatch):
    rows, blk = two_fragment_blocks
    base = blk.filter(pc.equal(blk.column("frag_id"), 0)).drop(["gen"])
    one_key = rows[(rows["repo"] == rows["repo"].iloc[0]) & (rows["path"] == rows["path"].iloc[0])]
    batch = one_key.tail(1).assign(commit="z" * 40, part_id=0)
    seen = _replayed_rows(monkeypatch)
    pipeline.make_append_kernel(
        pipeline.DEFAULT_SPEC, pipeline.DEFAULT_KEY_COLS, pipeline.DEFAULT_ORDER_COLS,
        pipeline.DEFAULT_CONTENT_COL, 32, "local",
    )(pa.Table.from_pandas(batch, preserve_index=False), base)
    # the prior fragment replays only the one continued chain
    assert seen[0] == (len(one_key) + 1) // 2


# ------------------------------------------------------------- key ids ----

# Two (repo, path) keys that a separator-joined key string would merge:
# "ab" + NUL + "c" and "a" + NUL + "bc" lose the NUL to numpy's U dtype,
# and a null repo prints as the repo "None".  Rows are listed in the
# encode sort order, so the two keys are neighbours in the block.
COLLIDING_KEYS = {
    "separator": (["a", "ab"], ["bc", "c"]),
    "null_vs_None": (["None", None], ["p", "p"]),
}


def _text(head: str, tail: str) -> str:
    """Long enough that an edit of the last line is a delta, not a keyframe."""
    return "\n".join([head, *(f"shared line {i}" for i in range(20)), tail])


@pytest.mark.parametrize("case", sorted(COLLIDING_KEYS))
def test_colliding_key_strings_stay_apart(case):
    repos, paths = COLLIDING_KEYS[case]
    spec, keys = pipeline.DEFAULT_SPEC, pipeline.DEFAULT_KEY_COLS
    first, second, next_first = _text("first", "x"), _text("second", "y"), _text("first", "z")
    pdf = pd.DataFrame({
        "repo": repos, "path": paths, "commit": ["c0", "c1"], "lang": ["py", "py"],
        "content": [first, second], "part_id": 0,
    })
    base = pipeline.make_encode_kernel()(pa.Table.from_pandas(pdf, preserve_index=False))
    for kw in ({"latest_only": True}, {"at_version": 0}):
        out = pipeline.make_decode_kernel(spec, keys, "content", **kw)(base)
        assert out.num_rows == 2, kw
        assert sorted(out.column("content").to_pylist()) == sorted(pdf["content"])

    # an append continuing the first key seeds its chain from that key's
    # own tail, and the table decodes exactly
    batch = pdf.iloc[[0]].assign(commit="c2", content=next_first)
    frag = pipeline.make_append_kernel(
        spec, keys, pipeline.DEFAULT_ORDER_COLS, "content", 32, "local",
    )(pa.Table.from_pandas(batch, preserve_index=False), base)
    content = frag.filter(pc.equal(frag.column("column"), "content"))
    assert content.column("codec").to_pylist() == ["chain"]
    _, meta, payload = blocks.unframe(content.column("payload")[0].as_py())
    assert meta["seeded"]
    assert meta["n_deltas"] == 1  # a delta against the seed, not a keyframe
    got = chain.decode_chain_arrow(meta, payload, base_texts=[first])
    assert got.to_pylist() == [next_first]
    # the script edits only the last line: it was taken against this
    # key's tail, not against the neighbour key's
    other = chain.decode_chain_arrow(meta, payload, base_texts=[second])
    assert other.to_pylist() != [next_first]

    both = pa.concat_tables([base, frag])
    full = pipeline.make_decode_kernel(spec, keys, "content")(both)
    want = pd.concat([pdf, batch]).drop(columns="part_id")
    assert sorted(map(str, full.to_pylist())) == sorted(
        map(str, want.to_dict("records"))
    )
    heads = pipeline.make_decode_kernel(spec, keys, "content", latest_only=True)(both)
    assert sorted(heads.column("content").to_pylist()) == sorted([next_first, second])


def test_key_ids_are_injective():
    """Distinct (key...) tuples get distinct ids: NULs and the escape
    byte inside values, empty strings and nulls included."""
    tuples = [
        ("ab", "c"), ("a", "bc"), (None, "p"), ("None", "p"), ("a\x00", "b"),
        ("a", "\x00b"), ("a\x01", "b"), ("a", "\x01b"), ("\x01\x02", "p"),
        ("\x01", "\x02p"), ("", ""), ("", None), (None, ""), (None, None),
        ("a\x00\x00b", ""), ("a\x00", "\x00b"), ("a", "\x00\x00b"),
    ]
    cols = [pa.array(list(c), type=pa.large_utf8()) for c in zip(*tuples)]
    ids = pipeline._key_ids(cols)
    assert len(set(ids.tolist())) == len(tuples)
    # a repeated tuple keeps its id
    assert pipeline._key_ids([c.take([0, 0]) for c in cols]).tolist() == [ids[0]] * 2


def test_where_decode_matches_full_decode_filtered(spark, tmp_path_factory):
    """End to end over an appended table: decode(where=, latest_only /
    at_version) returns the rows of a full version-pruned decode with
    Spark's filter applied."""
    pdf = codegen.generate(2_000).sort_values(["repo", "path", "commit"], kind="mergesort")
    rank = pdf.groupby(["repo", "path"]).cumcount()
    sizes = pdf.groupby(["repo", "path"])["commit"].transform("size")
    first = rank < (sizes + 1) // 2
    out = str(tmp_path_factory.mktemp("selective"))
    encode(spark, spark.createDataFrame(pdf[first].reset_index(drop=True)), out, target_rows=500)
    encode_append(spark, spark.createDataFrame(pdf[~first].reset_index(drop=True)), out)
    probes = pdf["commit"].sample(30, random_state=3).tolist()
    repos = sorted(pdf["repo"].unique())
    cases = [
        (("commit", probes), F.col("commit").isin(probes)),
        (("repo", repos[0], repos[1]), F.col("repo").between(repos[0], repos[1])),
    ]
    for where, cond in cases:
        for kw in ({"latest_only": True}, {"at_version": 1}, {}):
            got = decode(spark, out, where=where, **kw).collect()
            want = decode(spark, out, **kw).filter(cond).collect()
            assert len(got) and sorted(got) == sorted(want)


# ------------------------------------------------------------ Bloom probe ----


def bloom_maybe_any(f: bytes | None, values: list[str]) -> bool:
    """The Python Bloom probe the prune pass ran per block before its
    JVM form: positions straight modulo the filter's own size, False
    only when every value is proven absent."""
    if not f:
        return True
    mat, lens = bloom._byte_matrix([v.encode("utf-8") for v in values])
    h1, h2 = bloom._fnv_pair_matrix(mat, lens)
    bits = np.unpackbits(np.frombuffer(f, dtype=np.uint8), bitorder="little")
    return bool(bits[bloom._positions_vec(h1, h2, len(f) * 8)].all(axis=1).any())


def _bloom_values() -> list[str]:
    return (
        [f"{i:040x}" for i in range(40)]
        + ["a\x00b", "a\x00c", "\x00", "日本語", "🚀x", "é"]
        + ["p" * 70 + str(i) for i in range(6)]  # longer than the 64 hashed bytes
    )


def test_jvm_bloom_probe_equals_bloom_maybe_any(spark):
    present = _bloom_values()
    absent = [v + "?" for v in present] + ["q" * 80, "\x00\x00", "zzz"]
    filters = [None, b""]
    for k in range(10, 19):  # every filter size: 2^10 .. 2^18 bits
        distinct = max(65, (1 << (k - 1)) // 10 + 1)  # ~10 bits per key
        vals = present + [f"fill{k}-{i}" for i in range(distinct - len(present))]
        b = bloom.bloom_build(pa.array(vals, type=pa.large_utf8()))
        assert len(b) * 8 == 1 << k
        filters.append(b)
    rng = np.random.default_rng(5)
    filters.append(rng.integers(0, 256, 1 << 12, dtype=np.uint8).tobytes())  # half-set bits
    df = spark.createDataFrame(
        [("commit", i, "r", None, None, f) for i, f in enumerate(filters)],
        "column string, part_id long, run_id string, smin string, smax string, bloom binary",
    )
    lists = [
        [present[0]], [absent[0]], ["a\x00b"], ["a\x00d"], [present[-1]], ["p" * 70 + "x"],
        absent, absent + [present[3]], present[:10] + absent[:60],
    ]
    assert max(len(v) for v in lists) > 64 and min(len(v) for v in lists) == 1
    answers = set()
    for values in lists:
        hits = pipeline._where_hits(df, pipeline._parse_where(("commit", values), [("commit", "string")]))
        got = {r["part_id"]: r["h0"] for r in hits.collect()}
        want = {i: bloom_maybe_any(f, values) for i, f in enumerate(filters)}
        assert got == want, values
        answers |= set(got.values())
    assert answers == {True, False}
    # None and empty filters prove nothing; the absent list is mostly pruned
    assert got[0] and got[1]
    plan = hits._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "ArrowEval" not in plan, plan


def test_timestamp_bound_key_matches_the_residual_literal():
    """A where= bound finer than Spark's microseconds: the residual
    filter compares with the microsecond literal, so the zone/row key
    must be that literal's, or the kernel drops a row Spark keeps."""
    t = pd.Timestamp("2024-01-01 00:00:00.000001")
    col = pa.array([t.value], type=pa.int64())  # the decoded storage: epoch ns
    with pytest.warns(UserWarning):  # pandas: nanoseconds discarded
        (p,) = pipeline._parse_where(("ts", t + pd.Timedelta(500, "ns"), None), [("ts", "timestamp")])
    assert p.lo[0] == t.to_pydatetime()
    assert pipeline._pred_mask(col, p).tolist() == [True]
