"""Property-based round-trip tests (FIXTURES.md F3).

Mirrors the reference's quickcheck invariant
``forall a b: b == a.apply(a.delta(&b))``
(/root/reference/deltoid-quickcheck-tests/src/main.rs:13-33), including
the value->null case the reference documents as ambiguous (main.rs:14-22)
— we require exactness.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from deltoid_spark.kernels import api, blocks, chain
from deltoid_spark.kernels.intcodec import pack_ints, unpack_ints

# optional unicode-heavy text including control chars, newlines, emoji
st_text = st.text(
    alphabet=st.characters(codec="utf-8"),
    max_size=200,
)
st_block = st.lists(st.one_of(st.none(), st_text), max_size=60)


@settings(max_examples=60, deadline=None)
@given(st_block)
def test_plain_dict_rle_roundtrip(vals):
    s = pd.Series(vals, dtype=object)
    for codec in ("plain", "dict", "rle", "front"):
        out = api.decode_block(api.encode_block(s, codec))
        assert _eq(s, out), codec


@st.composite
def st_clustered_paths(draw):
    """FRONT's target shape: values sharing byte prefixes, arriving in
    runs, optionally sorted — plus nulls and the occasional unrelated
    outlier so prefix runs break mid-block."""
    prefixes = draw(st.lists(st_text, min_size=1, max_size=4))
    out: list[str | None] = []
    for _ in range(draw(st.integers(0, 25))):
        kind = draw(st.integers(0, 9))
        if kind == 0:
            v = None
        elif kind == 1:
            v = draw(st_text)  # outlier, no shared prefix
        else:
            v = draw(st.sampled_from(prefixes)) + draw(st_text)
        out.extend([v] * draw(st.integers(1, 4)))
    if draw(st.booleans()):
        out.sort(key=lambda x: (x is None, x or ""))
    return out


@settings(max_examples=60, deadline=None)
@given(st_clustered_paths())
def test_front_clustered_roundtrip(vals):
    s = pd.Series(vals, dtype=object)
    out = api.decode_block(api.encode_block(s, "front"))
    assert _eq(s, out)


@settings(max_examples=30, deadline=None)
@given(st_block)
def test_fsst_roundtrip(vals):
    s = pd.Series(vals, dtype=object)
    out = api.decode_block(api.encode_block(s, "fsst"))
    assert _eq(s, out)


@settings(max_examples=60, deadline=None)
@given(st.lists(st.integers(min_value=-(2**62), max_value=2**62), max_size=100))
def test_pack_ints_roundtrip(vals):
    arr = np.array(vals, dtype=np.int64)
    meta, pay = pack_ints(arr)
    assert np.array_equal(unpack_ints(meta, pay), arr)


st_lines = st.lists(st.text(alphabet=st.characters(exclude_characters="\n", codec="utf-8"), max_size=30), max_size=20)


@st.composite
def st_chain_group(draw):
    """A commit chain: base lines + per-version edit scripts (mirrors
    EltDelta::{Edit, Add, Remove}, /root/reference/deltoid/src/vec.rs:103-117)."""
    lines = draw(st_lines)
    versions = []
    n_versions = draw(st.integers(1, 8))
    for _ in range(n_versions):
        op = draw(st.integers(0, 4))
        if op == 0 and lines:  # edit
            i = draw(st.integers(0, len(lines) - 1))
            lines = [*lines]
            lines[i] = draw(st.text(max_size=20))
        elif op == 1:  # append
            lines = [*lines, draw(st.text(max_size=20))]
        elif op == 2 and lines:  # tail remove
            lines = lines[: draw(st.integers(0, len(lines) - 1))]
        elif op == 3:  # null state (file missing at this commit)
            versions.append(None)
            continue
        versions.append("\n".join(lines))
    return versions


@settings(max_examples=60, deadline=None)
@given(st.lists(st_chain_group(), min_size=1, max_size=5), st.integers(1, 5))
def test_chain_roundtrip(groups, k):
    contents, sizes = [], []
    for g in groups:
        contents.extend(g)
        sizes.append(len(g))
    s = pd.Series(contents, dtype=object)
    buf = chain.encode_chain(s, np.array(sizes), keyframe_interval=k)
    _, meta, payload = blocks.unframe(buf)
    out = chain.decode_chain_arrow(meta, payload)
    assert _eq(s, out)


def _eq(a: pd.Series, b: pd.Series) -> bool:
    if len(a) != len(b):
        return False
    for x, y in zip(a.tolist(), b.tolist()):
        if x is None or (isinstance(x, float) and pd.isna(x)):
            if not (y is None or (isinstance(y, float) and pd.isna(y))):
                return False
        elif x != y:
            return False
    return True


@given(
    st.lists(
        st.lists(
            st.one_of(
                st.none(),
                st.dictionaries(
                    st.text(min_size=0, max_size=6),
                    st.one_of(st.none(), st.text(max_size=8)),
                    max_size=5,
                ),
            ),
            min_size=1,
            max_size=8,
        ),
        min_size=1,
        max_size=4,
    )
)
@settings(max_examples=40, deadline=None)
def test_mapdelta_roundtrip_property(groups):
    import numpy as np
    import pandas as pd

    from deltoid_spark.kernels import api

    rows = [m for g in groups for m in g]
    sizes = np.array([len(g) for g in groups])
    s = pa.array(rows, pa.map_(pa.large_utf8(), pa.large_utf8()))
    dec = api.decode_block(
        api.encode_block(s, "mapdelta", group_sizes=sizes, keyframe_interval=3)
    )
    assert [r if r is None else dict(r) for r in dec.to_pylist()] == rows


@given(
    st.lists(  # groups of versions, each group split at a random point
        st.tuples(
            st.lists(st.text(alphabet="ab\n x", max_size=20), min_size=1, max_size=10),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=1,
        max_size=5,
    )
)
@settings(max_examples=40, deadline=None)
def test_seeded_chain_continuation_property(groups):
    """A chain split at ANY point and encoded as base + seeded
    continuation must decode to the same versions (A18 kernel law)."""
    base_rows, cont_rows, sizes_a, sizes_b = [], [], [], []
    base_texts, base_versions = [], []
    for versions, cut_raw in groups:
        cut = min(cut_raw, len(versions) - 1) + 1  # >=1 version in base
        head, tail = versions[:cut], versions[cut:]
        base_rows.extend(head)
        sizes_a.append(len(head))
        if tail:
            cont_rows.extend(tail)
            sizes_b.append(len(tail))
            base_texts.append(head[-1])
            base_versions.append(len(head))
    buf_a = chain.encode_chain(
        pd.Series(base_rows, dtype=object), np.array(sizes_a), keyframe_interval=3
    )
    _, meta_a, pay_a = blocks.unframe(buf_a)
    dec_a = chain.decode_chain_arrow(meta_a, pay_a)
    assert dec_a.tolist() == base_rows
    if cont_rows:
        buf_b = chain.encode_chain(
            pd.Series(cont_rows, dtype=object),
            np.array(sizes_b),
            keyframe_interval=3,
            base_texts=base_texts,
            base_versions=np.array(base_versions),
        )
        codec, meta, payload = blocks.unframe(buf_b)
        dec_b = chain.decode_chain_arrow(meta, payload, base_texts=base_texts)
        assert dec_b.tolist() == cont_rows


@given(
    st.lists(
        st.one_of(
            st.none(),
            st.lists(st.text(max_size=12), max_size=6),
        ),
        max_size=30,
    )
)
@settings(max_examples=40, deadline=None)
def test_strlist_roundtrip_property(rows):
    s = pa.array(rows, pa.large_list(pa.large_utf8()))
    dec = api.decode_block(api.encode_block(s, "strlist"))
    assert dec.tolist() == rows


# ------------------------------- PNG codec ---------------------------------


@settings(max_examples=40, deadline=None)
@given(
    st.integers(1, 24),
    st.integers(1, 24),
    st.integers(0, 2),
    st.integers(0, 2**32 - 1),
)
def test_png_roundtrip_property(w, h, filter_type, seed):
    from deltoid_spark.functions import multimodal

    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    back = multimodal.decode_png(multimodal.encode_png(px, filter_type=filter_type))
    assert back.shape == px.shape and (back == px).all()


# ------------------------------------------------- nested DINT/ALP fuzz ----

st_i64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)
st_doubles = st.one_of(
    st.none(),
    st.floats(allow_nan=True, allow_infinity=True, width=64),
    st.decimals(min_value=-10**6, max_value=10**6, places=2).map(float),
)


@settings(max_examples=40, deadline=None)
@given(
    st.lists(st.one_of(st.none(), st.lists(st_i64, max_size=12)), max_size=40),
    st.lists(st.one_of(st.none(), st.lists(st_doubles, max_size=12)), max_size=40),
)
def test_nested_dint_alp_leaf_roundtrip_property(int_rows, dbl_rows):
    """Round-6 nested leaf codecs under fuzz: int leaves through the
    unframed DINT best-of (full int64 range incl. the 2^63 wrap) and
    double leaves through the ALP probe (NaN/inf/-0.0/subnormals ride
    the exception list) must round-trip EXACTLY — NaN stays NaN (a
    value), None stays None (a null), -0.0 keeps its sign."""
    import math

    from deltoid_spark.kernels import blocks as blk
    from deltoid_spark.kernels.nested import decode_nested_arrow, encode_nested

    def decode_rows(meta, payload):
        return decode_nested_arrow(meta, payload).to_pylist()

    ser = pa.array(int_rows, pa.large_list(pa.int64()))
    got = decode_rows(*blk.unframe(encode_nested(ser, "array<bigint>"))[1:])
    assert len(got) == len(int_rows)
    for g, e in zip(got, int_rows):
        if e is None:
            assert g is None
        else:
            assert [x for x in g] == e

    ser_d = pa.array(dbl_rows, pa.large_list(pa.float64()))
    got_d = decode_rows(*blk.unframe(encode_nested(ser_d, "array<double>"))[1:])
    assert len(got_d) == len(dbl_rows)
    for g, e in zip(got_d, dbl_rows):
        if e is None:
            assert g is None
            continue
        assert len(g) == len(e)
        for x, y in zip(g, e):
            if y is None:
                assert x is None
            elif isinstance(y, float) and math.isnan(y):
                assert x is not None and math.isnan(x)
            else:
                assert x == y and math.copysign(1.0, x) == math.copysign(1.0, y)
