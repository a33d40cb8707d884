"""Golden-metrics regression (FIXTURES.md F5): for the tiny fixture at
seed 42, the encoder's behavior is pinned — codec choices per column,
compression-ratio ceilings, and byte-determinism of every block.

(The exact byte counts depend on the zstd build, so the goldens are
structural: choices, bounds, and determinism — the analog of the
reference's golden serialized-delta assertions,
/root/reference/deltoid/src/string.rs:146-160.)
"""

from __future__ import annotations

import numpy as np
import pytest

from deltoid_spark.fixtures import codegen
from deltoid_spark.jobs.pipeline import make_encode_kernel
from deltoid_spark.kernels import api, blocks


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
        pipeline.DEFAULT_CONTENT_COL, 32, "local",
    )
    frag = append(
        pa.Table.from_pandas(rows[~first].reset_index(drop=True), preserve_index=False), base
    )
    assert frag.column("frag_id").to_pylist() == [1] * 5
    assert _rows_sha(frag) == GOLDEN_APPEND_SHA


# sha256 over the rows of a Spark-typed partition's kernel output (every
# scalar type, NaN/null/-0.0/inf floats, a duplicate-key map, null and
# empty lists, a nested struct with NaN leaves, a non-string key column
# with nulls and a float order column holding both NaN and null) and of
# one appended fragment.  Same pyarrow/zstd caveat as above.
TYPED_SPEC = [
    ("repo", "string"), ("kid", "int"), ("ord", "double"), ("big", "bigint"),
    ("n", "int"), ("flag", "boolean"), ("ts", "timestamp"), ("d", "date"),
    ("x", "double"), ("f", "float"), ("m", "map<string,string>"),
    ("l", "array<string>"), ("nest", "struct<a:array<double>,b:bigint,t:timestamp>"),
    ("content", "string"),
]
TYPED_KW = dict(key_cols=("repo", "kid"), order_cols=("ord",), content_col="content")
GOLDEN_TYPED_ENCODE_SHA = "f15c6065eca9413352a449418af3f6ce0a40981411c871006e66a30ec814c588"
GOLDEN_TYPED_APPEND_SHA = "e2bd2a7b01b3536308efe9e04afae91be66936ee7b47ced846c43cfd75f1d9d6"


def _typed_table(lo: int, hi: int):
    """Rows [lo, hi) of the typed fixture, typed as Spark's applyInArrow
    hands them to a kernel (utf8 strings, UTC microsecond timestamps)."""
    import pyarrow as pa

    nan, inf = float("nan"), float("inf")
    rows = range(lo, hi)
    ts_us = pa.timestamp("us", tz="UTC")
    ords = [1.0, nan, None, 0.0, -0.0, nan, None, -1.0]
    xs = [None, nan, -0.0, inf, -inf, 2.5, 1e-300, 0.1]
    nest_t = pa.struct([
        ("a", pa.list_(pa.float64())), ("b", pa.int64()), ("t", ts_us),
    ])
    cols = {
        "part_id": pa.array([0] * len(rows), pa.int64()),
        "repo": pa.array([None if i % 17 == 9 else f"org/r{i % 3}" for i in rows], pa.string()),
        "kid": pa.array([None if i % 5 == 4 else i % 2 for i in rows], pa.int32()),
        "ord": pa.array([ords[i % 8] for i in rows], pa.float64()),
        "big": pa.array(
            [None if i % 7 == 3 else 2**53 + 17 * i - (2**62 if i % 2 else 0) for i in rows],
            pa.int64(),
        ),
        "n": pa.array([i * 37 - 500 for i in rows], pa.int32()),
        "flag": pa.array([None if i % 6 == 0 else i % 4 == 1 for i in rows], pa.bool_()),
        "ts": pa.array(
            [None if i % 9 == 4 else 1_700_000_000_000_000 + i * 1_000_123 for i in rows], ts_us
        ),
        "d": pa.array([None if i % 8 == 7 else 19_000 + 3 * i - 400 for i in rows], pa.date32()),
        "x": pa.array([xs[i % 8] if i % 3 else round(i * 0.37, 2) for i in rows], pa.float64()),
        "f": pa.array([None if i % 10 == 1 else i / 8 for i in rows], pa.float32()),
        "m": pa.array(
            [None if i % 12 == 10 else [("a", str(i // 4)), ("b", None), ("a", f"dup{i % 3}")]
             for i in rows],
            pa.map_(pa.string(), pa.string()),
        ),
        "l": pa.array(
            [None if i % 7 == 0 else [f"e{j}" if j % 3 else None for j in range(i % 4)] for i in rows],
            pa.list_(pa.string()),
        ),
        "nest": pa.array(
            [None if i % 10 == 6 else {
                "a": None if i % 5 == 2 else [nan, -0.0, None, 1.5 + i][: i % 4],
                "b": 2**53 + i if i % 4 else None,
                "t": 1_600_000_000_000_000 + i * 10**6 if i % 6 else None,
            } for i in rows],
            nest_t,
        ),
        "content": pa.array(
            [None if i % 11 == 5 else f"line {i // 3}\nbody {i % 3}\nend" for i in rows],
            pa.string(),
        ),
    }
    return pa.table(cols)


def test_typed_encode_golden():
    """The typed encode paths (every non-string codec, typed key and
    order columns, NaN/null edges) are byte-pinned like the string
    ones: the kernel's blocks and an appended fragment's."""
    from deltoid_spark.jobs import pipeline

    base = make_encode_kernel(spec=TYPED_SPEC, keyframe_interval=4, **TYPED_KW)(_typed_table(0, 60))
    assert "error" not in base.column("codec").to_pylist()
    assert _rows_sha(base) == GOLDEN_TYPED_ENCODE_SHA
    append = pipeline.make_append_kernel(
        TYPED_SPEC, TYPED_KW["key_cols"], TYPED_KW["order_cols"], TYPED_KW["content_col"],
        4, "local",
    )
    frag = append(_typed_table(60, 90), base)
    assert frag.column("frag_id").to_pylist() == [1] * len(TYPED_SPEC)
    assert _rows_sha(frag) == GOLDEN_TYPED_APPEND_SHA


# sha256 over the kernel output of a partition whose smallint/tinyint
# columns hold nulls and each type's min and max, one of them a key.
SMALL_INT_SPEC = [("k", "tinyint"), ("s", "smallint"), ("t", "tinyint"), ("content", "string")]
GOLDEN_SMALL_INT_SHA = "03af4a9ad0946ec714f3701fb4952d2592457fc2add16396ab3b8c2d11be998e"


def test_small_int_encode_golden():
    """smallint and tinyint take the int family's storage and codec:
    their blocks are byte-pinned and decode back to the Spark types."""
    import pyarrow as pa

    from deltoid_spark.jobs import pipeline

    rows = range(48)
    s_vals = [-(2**15), 2**15 - 1, None, 0, -1, 12_345]
    t_vals = [-(2**7), 2**7 - 1, None, 0, 1, -77, 5]
    tbl = pa.table({
        "part_id": pa.array([0] * len(rows), pa.int64()),
        "k": pa.array([None if i % 13 == 6 else (i % 3) * 127 - 128 for i in rows], pa.int8()),
        "s": pa.array([s_vals[i % 6] if i % 4 else i * 311 - 7000 for i in rows], pa.int16()),
        "t": pa.array([t_vals[i % 7] for i in rows], pa.int8()),
        "content": pa.array([f"v {i // 5}\nrow {i % 5}" for i in rows], pa.string()),
    })
    kw = dict(key_cols=("k",), order_cols=("s",), content_col="content")
    blocks = make_encode_kernel(spec=SMALL_INT_SPEC, **kw)(tbl)
    assert "error" not in blocks.column("codec").to_pylist()
    assert _rows_sha(blocks) == GOLDEN_SMALL_INT_SHA
    out = pipeline.make_decode_kernel(SMALL_INT_SPEC, ("k",), "content")(blocks)
    assert out.schema.field("s").type == pa.int16() and out.schema.field("t").type == pa.int8()
    got = sorted(zip(*(out.column(c).to_pylist() for c in ("content", "k", "s", "t"))), key=repr)
    want = sorted(zip(*(tbl.column(c).to_pylist() for c in ("content", "k", "s", "t"))), key=repr)
    assert got == want


# sha256 over the ``encode_chain`` bytes of seeded blocks (appended
# fragments whose groups continue a stored chain).  The hand-made block
# has one group per script shape a seeded first version can take;
# the generated ones mix seeded and unseeded groups, nulls and groups
# longer than the cadence.  Same pyarrow/zstd caveat as above.
GOLDEN_SEEDED_CHAIN_SHA = "d5b77f29fcfbd05e8e861be8e363d17d53889b0b13785c8a461beb312185b370"


def _seeded_chain_cases():
    """[(rows, group_sizes, base_texts, base_versions, keyframe_interval)]."""
    from test_selective_replay import _chain_fixture

    lines = [f"line {i}" for i in range(10)]
    long_line = ";".join(f"tok{i:03d}" for i in range(300))
    uni = ["col %02d " % i + "§π" * 40 + "tail %d" % i for i in range(20)]
    uni2 = list(uni)
    uni2[3] = uni2[3][:10] + "ÆØ" + uni2[3][12:]
    uni2[17] = uni2[17][:5] + "!" + uni2[17][5:]
    x1 = "x" * 500
    x2 = x1[:100] + "A" + x1[101:]
    x3 = x2[:300] + "B" + x2[301:]
    mixed = [long_line, "short a", "short b"]
    shared = [f"a shared line of some length, number {i}" for i in range(3)]
    groups = [
        # (base text or None, base version, versions)
        ("\n".join(lines), 3, [  # splice: a middle insert, then more
            "\n".join(lines[:5] + ["inserted"] + lines[5:]),
            "\n".join(lines[:5] + ["inserted", "again"] + lines[5:]),
        ]),
        ("\n".join(lines), 5, [  # positional: two scattered short edits
            "\n".join(["edit 1" if i == 1 else "edit 8" if i == 8 else l
                       for i, l in enumerate(lines)]),
        ]),
        ("abc", 2, ["xyz", "xyz\nmore"]),  # degrades to a keyframe
        (long_line, 1, [long_line[:50] + "EDIT" + long_line[54:]]),  # one-line file
        ("\n".join(uni), 9, ["\n".join(uni2)]),  # two-line char edit, unicode
        (x1, 1, [x2, x3]),  # a char-spliced line edited again
        ("\n".join(mixed), 6, ["\n".join([long_line[:7] + "Q" + long_line[8:],
                                          "short a", "other b"])]),  # char + full line
        ("\n".join(lines), 4, [None, "\n".join(lines), None]),  # null transitions
        ("\n".join(lines), 8, ["\n".join(lines[:9])]),  # seed on the cadence
        (None, 0, ["a\nb", None, "a\nb\nc", "a\nc"]),  # unseeded, null inside
        ("\n".join([shared[0], "gone 1", shared[1], "gone 2"]), 3,  # seed lines
         ["\n".join([shared[0], "zz", shared[1]]), shared[0]]),  # not in the block
        ("\n".join(["gone 2", shared[1], "gone 1", shared[2]]), 7,  # shares them
         ["\n".join(["new", shared[1], "gone 3", shared[2], "tail"])]),
        ("", 2, ["", "x"]),  # empty seed text
    ]
    rows, sizes, bases, versions = [], [], [], []
    for base, ver, vs in groups:
        rows += vs
        sizes.append(len(vs))
        bases.append(base)
        versions.append(ver)
    cases = [(rows, np.array(sizes), bases, np.array(versions), 8)]
    for seed in range(6):
        cases.append((*_chain_fixture(seed), 8))
    cases.append((*_chain_fixture(99, n_groups=60), 32))
    return cases


def test_seeded_chain_golden():
    """Seeded chain blocks are byte-pinned: splice, positional,
    keyframe-degrade and char-splice first versions, null transitions,
    seeds on and off the keyframe cadence and seed lines outside the
    block's line dictionary."""
    import hashlib

    import pyarrow as pa

    from deltoid_spark.kernels import chain

    h = hashlib.sha256()
    n_char = 0
    for rows, sizes, bases, versions, k in _seeded_chain_cases():
        buf = chain.encode_chain(
            pa.array(rows, type=pa.large_utf8()), sizes, keyframe_interval=k,
            base_texts=bases, base_versions=versions,
        )
        _, meta, payload = blocks.unframe(buf)
        assert chain.decode_chain_arrow(meta, payload, base_texts=bases).to_pylist() == rows
        n_char += "cb_len" in meta
        h.update(len(buf).to_bytes(8, "little"))
        h.update(buf)
    assert n_char >= 2  # the char-splice streams are among the pinned bytes
    assert h.hexdigest() == GOLDEN_SEEDED_CHAIN_SHA


# ------------------------------------------------------------- decode golden ----
#
# One partition whose columns cover every codec, encoded column by
# column with a fixed codec (the selector is not asked), plus a
# zero-row partition of the same columns.  The decode kernel's output
# is pinned by a sha256 over the Arrow IPC stream of a canonical copy
# of it: the values and the Spark-side types count, the bytes under
# null slots and the chunking do not.

NESTED_DDL = "struct<a:map<string,array<double>>,b:bigint,t:timestamp>"
GOLDEN_DECODE_SHA = "a71dae615deaf6a892d8d4750fc4f87b33d88c91973208feb2eb6d26fa26c2db"


def _decode_fixture(n: int):
    """(spec, [(column, codec, payload)]) for an ``n``-row partition."""
    import itertools

    import numpy as np
    import pandas as pd
    import pyarrow as pa

    from deltoid_spark.kernels import chain, mapdelta, nested

    rng = np.random.default_rng(11)
    repo = [f"org/r{i // 8}" for i in range(n)]
    path = [f"src/p{(i // 3) % 3}.py" for i in range(n)]
    keys = list(zip(repo, path))
    gsizes = np.array([len(list(g)) for _, g in itertools.groupby(keys)], dtype=np.int64)
    content = [None if i % 11 == 5 else f"line {i // 3}\nbody {i % 3}\nend" for i in range(n)]
    big = [None if i % 7 == 3 else 2**53 + 17 * i - (2**62 if i % 2 else 0) for i in range(n)]
    ts = [None if i % 9 == 4 else 1_700_000_000_000_000_000 + i * 1_000_123_000 for i in range(n)]

    def nested_row(i):
        if i % 10 == 6:
            return None
        floats = [float("nan"), -0.0, None, 1.5 + i][: 1 + i % 4]
        return {
            "a": None if i % 5 == 2 else {f"k{i % 3}": floats, "z": []},
            "b": 2**53 + i if i % 4 else None,
            "t": pd.Timestamp(1_600_000_000_000_000 * 1000 + i * 10**9) if i % 6 else None,
        }

    string_cols = {
        "repo": ("dict", repo),
        "path": ("front", path),
        "commit": ("hex", [f"{i * 7919:040x}" if i % 13 != 8 else None for i in range(n)]),
        "lang": ("rle", [["py", "rs", None][i % 3] for i in range(n)]),
        "s_plain": ("plain", [None if i % 4 == 1 else f"v\x00{i}é" for i in range(n)]),
        "s_fsst": ("fsst", [f"/usr/lib/python3/{i % 5}/mod{i}.py" for i in range(n)]),
        "s_null": ("front", [None] * n),
    }
    cols = []
    spec = []
    for name, (codec, vals) in string_cols.items():
        spec.append((name, "string"))
        cols.append((name, codec, api.encode_block(pa.array(vals, pa.large_utf8()), codec)))
    spec.append(("content", "string"))
    cols.append(("content", "chain", chain.encode_chain(
        pa.array(content, pa.large_utf8()), gsizes, keyframe_interval=4)))
    ints = [
        ("big", "bigint", "dint", big),
        ("big_for", "bigint", "for", big),
        ("small", "int", "dint", [None if i % 5 == 0 else i - 40 for i in range(n)]),
        ("ts", "timestamp", "dint", ts),
        ("d", "date", "dint", [None if i % 8 == 7 else 19_000 + i for i in range(n)]),
        ("flag", "boolean", "dint", [None if i % 6 == 0 else i % 2 for i in range(n)]),
        ("i_null", "bigint", "dint", [None] * n),
    ]
    for name, ddl, codec, vals in ints:
        spec.append((name, ddl))
        cols.append((name, codec, api.encode_block(pa.array(vals, pa.int64()), codec)))
    floats = [
        ("f_lanes", "double", 8, rng.standard_normal(n)),
        ("f_dec", "double", 8, np.round(rng.uniform(-50, 50, n), 2)),
        ("f32", "float", 4, rng.standard_normal(n).astype(np.float32)),
    ]
    for name, ddl, width, vals in floats:
        s = pa.array(vals, mask=np.arange(n) % 9 == 2)
        spec.append((name, ddl))
        cols.append((name, "fp", api.encode_block(s, "fp", width=width)))
    maps = pa.array(
        [None if i % 12 == 10 else {"a": str(i // 4), "b": None if i % 3 else "x"} for i in range(n)],
        pa.map_(pa.large_utf8(), pa.large_utf8()),
    )
    lists = pa.array(
        [None if i % 7 == 0 else [f"e{j}" if j % 3 else None for j in range(i % 4)] for i in range(n)],
        pa.large_list(pa.large_utf8()),
    )
    spec += [("m", "map<string,string>"), ("l", "array<string>"), ("nest", NESTED_DDL)]
    cols.append(("m", "mapdelta", mapdelta.encode_mapdelta(maps, gsizes, keyframe_interval=4)))
    cols.append(("l", "strlist", mapdelta.encode_strlist(lists)))
    rows = pa.array(
        [nested_row(i) for i in range(n)], nested.arrow_type(nested.parse_ddl(NESTED_DDL))
    )
    cols.append(("nest", "nested", nested.encode_nested(rows, NESTED_DDL)))
    return spec, cols


def _block_table(part_id: int, cols):
    import pyarrow as pa

    names, codecs, payloads = zip(*cols)
    return pa.table({
        "part_id": pa.array([part_id] * len(cols), pa.int64()),
        "frag_id": pa.array([0] * len(cols), pa.int64()),
        "column": pa.array(names, pa.string()),
        "codec": pa.array(codecs, pa.string()),
        "payload": pa.array(payloads, pa.binary()),
    })


def _canonical_ipc_sha(tbl) -> str:
    import hashlib

    import pyarrow as pa

    canon = pa.table(
        [pa.array(tbl.column(c).to_pylist(), type=tbl.schema.field(c).type) for c in tbl.column_names],
        names=tbl.column_names,
    )
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, canon.schema) as w:
        w.write_table(canon)
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()


def _decode_golden_sha(decode_kernel) -> str:
    """sha256 over the canonical IPC digests of both partitions' decode
    outputs; ``decode_kernel(spec, blocks, content_col)`` returns the
    Arrow table."""
    import hashlib

    h = hashlib.sha256()
    for part_id, n in ((0, 40), (1, 0)):
        spec, cols = _decode_fixture(n)
        content = "content" if n else None
        if content is None:  # an empty content block has its own test
            spec = [c for c in spec if c[0] != "content"]
            cols = [c for c in cols if c[0] != "content"]
        out = decode_kernel(spec, _block_table(part_id, cols), content)
        assert out.num_rows == n
        h.update(_canonical_ipc_sha(out).encode())
    return h.hexdigest()


def test_decode_output_golden():
    from deltoid_spark.jobs import pipeline

    def kernel(spec, blk, content):
        return pipeline.make_decode_kernel(spec, ("repo", "path"), content)(blk)

    assert _decode_golden_sha(kernel) == GOLDEN_DECODE_SHA


@pytest.mark.parametrize("codec", sorted(blocks.CODEC_IDS))
def test_decode_block_casts_to_spark_type(codec):
    """Every codec decodes to a ``pa.Array`` whose one cast lands on the
    type Spark's applyInArrow verifier expects for the column."""
    import pyarrow as pa

    from deltoid_spark.jobs import coltypes

    for n in (40, 0):
        spec, cols = _decode_fixture(n)
        ddls = dict(spec)
        picked = [(name, buf) for name, c, buf in cols if c == codec]
        assert picked, codec
        for name, buf in picked:
            arr = api.decode_block(buf)
            assert isinstance(arr, pa.Array) and len(arr) == n, name
            assert coltypes.to_spark(arr, ddls[name]).type == coltypes.spark_type(
                ddls[name]
            ), name


def test_decode_empty_content_block():
    """A zero-row partition with a content chain decodes to zero rows of
    the Spark-side types."""
    import pyarrow as pa

    from deltoid_spark.jobs import pipeline
    from deltoid_spark.kernels import chain

    spec = pipeline.DEFAULT_SPEC
    cols = [
        (name, "plain", api.encode_block(pa.array([], pa.large_utf8()), "plain"))
        for name, _ in spec if name != "content"
    ]
    cols.append(("content", "chain", chain.encode_chain(
        pa.array([], pa.large_utf8()), np.zeros(0, dtype=np.int64))))
    for kw in ({}, {"latest_only": True}):
        out = pipeline.make_decode_kernel(spec, **kw)(_block_table(3, cols))
        assert out.num_rows == 0
        assert out.schema == pa.schema([(n, pa.string()) for n, _ in spec])
