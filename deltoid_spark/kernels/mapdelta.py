"""MAPDELTA codec: keyed Add/Edit/Remove deltas for map-typed columns.

This is the reference's ``HashMap::delta`` / ``apply`` pair
(/root/reference/deltoid/src/collections/hashmap.rs:57-85) realized as
a columnar kernel over chains: within each (key...) group, version 0
(and every K-th version, and any null transition) stores the full map
as puts-into-empty; every other version stores only the keys that were
added/changed (put) or removed (del) relative to the previous version.
Keys are sorted before storage — the BTreeMap determinism requirement
(btreemap.rs:56-84) — so re-encoding identical input is byte-identical.

Round 3: both directions are vectorized on Arrow dictionary codes (the
round-2 kernel walked every row building Python dicts).  Encode
explodes the column through MapArray buffers, ``dictionary_encode``s
keys and values (byte-exact C hashing — NUL-safe, unlike pandas
factorize), ranks the small key dictionary lexicographically, and
computes the keyed diff by stable argsorts on composite (row, key)
int64 keys with adjacent-pair matching; value equality is integer code
equality.  Decode turns the put/del streams into per-(segment, key)
visibility intervals, expands them with np.repeat, and returns one
Arrow MapArray.  No per-row Python anywhere; the wire format is
unchanged and byte-identical to the round-2 encoder.

ARRAY codec: array<string> columns store FoR-packed lengths + the
flattened element stream through PLAIN(+zstd); null list vs empty list
is exact via the validity mask.  It decodes to a LargeListArray.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from . import blocks
from .intcodec import pack_ints, pack_ints_z, unpack_ints, unpack_ints_z
from .strings import decode_plain, encode_plain

DEFAULT_KEYFRAME_INTERVAL = 32

_MAP_TYPE = pa.map_(pa.large_utf8(), pa.large_utf8())


def _dict_codes(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(int64 codes with -1 for null, dictionary as object ndarray) —
    byte-exact Arrow hashing, no python-string materialization."""
    if len(arr) == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=object)
    d = pc.dictionary_encode(arr)
    codes = d.indices.fill_null(-1).to_numpy().astype(np.int64)
    return codes, d.dictionary.to_numpy(zero_copy_only=False)


def _lex_ranks(dictionary: np.ndarray) -> np.ndarray:
    """rank[code] = lexicographic position (utf-8 byte order == python
    codepoint order); only the small unique set pays string compares."""
    rank = np.empty(len(dictionary), dtype=np.int64)
    rank[np.argsort(dictionary, kind="stable")] = np.arange(len(dictionary))
    return rank


def _rows_kinds(
    n: int, gsz: np.ndarray, is_null: np.ndarray, keyframe_interval: int
) -> tuple[np.ndarray, np.ndarray]:
    """(is_delta, is_key) per row — vectorized keyframe cadence."""
    starts = np.cumsum(gsz) - gsz
    v = np.arange(n, dtype=np.int64) - np.repeat(starts, gsz)
    prev_null = np.concatenate(([True], is_null[:-1])) if n else is_null
    is_delta = (v != 0) & (v % keyframe_interval != 0) & ~is_null & ~prev_null
    return is_delta, ~is_delta  # nulls are explicit keyframe states


def map_raw_bytes(arr: pa.Array) -> int:
    """Uncompressed size proxy: utf-8 bytes of all keys + non-null
    values (vectorized; replaces the round-2 per-row loop)."""
    ma = blocks.as_type(arr, _MAP_TYPE)
    if len(ma.keys) == 0:
        return 0
    kb = pc.sum(pc.binary_length(ma.keys.cast(pa.large_binary()))).as_py() or 0
    vb = pc.sum(pc.binary_length(ma.items.cast(pa.large_binary()))).as_py() or 0
    return int(kb + vb)


def encode_mapdelta(
    arr: pa.Array,
    group_sizes: np.ndarray,
    keyframe_interval: int = DEFAULT_KEYFRAME_INTERVAL,
) -> bytes:
    ma = blocks.as_type(arr, _MAP_TYPE)
    n = len(ma)
    gsz = np.asarray(group_sizes, dtype=np.int64)
    assert int(gsz.sum()) == n, "group sizes must cover all rows"
    is_null = blocks.null_mask(ma)
    is_delta, is_key = _rows_kinds(n, gsz, is_null, keyframe_interval)

    offs = ma.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    er = np.repeat(np.arange(n, dtype=np.int64), np.diff(offs))
    kc, ukeys = _dict_codes(ma.keys)
    vc, uvals = _dict_codes(ma.items)
    rank = _lex_ranks(ukeys)
    erk = rank[kc] if len(kc) else kc
    U = len(ukeys) + 1

    # ONE stable argsort on the composite (row, key-rank) int64 gives
    # both the storage order and last-wins duplicate-key dedup
    order = np.argsort(er * U + erk, kind="stable")
    er, erk, ekc, evc = er[order], erk[order], kc[order], vc[order]
    if len(er):
        nxt_same = np.zeros(len(er), dtype=bool)
        nxt_same[:-1] = (er[:-1] == er[1:]) & (erk[:-1] == erk[1:])
        keep = ~nxt_same  # keep the LAST duplicate (dict semantics)
        er, erk, ekc, evc = er[keep], erk[keep], ekc[keep], evc[keep]

    kf_sel = is_key[er] if len(er) else np.zeros(0, dtype=bool)

    # keyed diff for delta rows: concat each delta row's entries (cur)
    # with its predecessor's re-labeled to that row (prev, listed first
    # so the stable sort puts prev before cur for equal (row, rank));
    # matching keys become adjacent pairs, equality is code equality
    if is_delta.any() and len(er):
        nxt_delta = np.concatenate((is_delta[1:], [False]))
        cm = is_delta[er]
        pm = nxt_delta[er]
        dr = np.concatenate((er[pm] + 1, er[cm]))
        drk = np.concatenate((erk[pm], erk[cm]))
        dkc = np.concatenate((ekc[pm], ekc[cm]))
        dvc = np.concatenate((evc[pm], evc[cm]))
        n_prev = int(pm.sum())
        is_cur = np.zeros(len(dr), dtype=bool)
        is_cur[n_prev:] = True
        o2 = np.argsort(dr * U + drk, kind="stable")
        dr, drk, dkc, dvc, is_cur = dr[o2], drk[o2], dkc[o2], dvc[o2], is_cur[o2]
        pair = np.zeros(len(dr), dtype=bool)  # prev at i matched by cur at i+1
        if len(dr) > 1:
            pair[:-1] = (
                (dr[:-1] == dr[1:]) & (drk[:-1] == drk[1:]) & ~is_cur[:-1] & is_cur[1:]
            )
        matched_cur = np.concatenate(([False], pair[:-1]))
        changed = matched_cur & (dvc != np.concatenate(([0], dvc[:-1])))
        added = is_cur & ~matched_cur
        put_sel = added | changed
        del_sel = ~is_cur & ~pair
        pd_r, pd_rk, pd_kc, pd_vc = dr[put_sel], drk[put_sel], dkc[put_sel], dvc[put_sel]
        dl_r, dl_kc = dr[del_sel], dkc[del_sel]
    else:
        pd_r = pd_rk = pd_kc = pd_vc = np.zeros(0, np.int64)
        dl_r = dl_kc = np.zeros(0, np.int64)

    # final put stream: keyframe entries + delta puts, (row, rank)-sorted
    pr = np.concatenate((er[kf_sel], pd_r))
    prk = np.concatenate((erk[kf_sel], pd_rk))
    pkc = np.concatenate((ekc[kf_sel], pd_kc))
    pvc = np.concatenate((evc[kf_sel], pd_vc))
    o3 = np.argsort(pr * U + prk, kind="stable")
    pr, pkc, pvc = pr[o3], pkc[o3], pvc[o3]

    put_keys = ukeys[pkc] if len(pkc) else np.zeros(0, object)
    del_keys = ukeys[dl_kc] if len(dl_kc) else np.zeros(0, object)
    if len(pvc) and len(uvals):
        put_vals = uvals[np.where(pvc < 0, 0, pvc)]
        put_vals[pvc < 0] = None
    else:  # no puts, or every value is null (empty value dictionary)
        put_vals = np.full(len(pvc), None, dtype=object)

    put_counts = np.bincount(pr, minlength=n)[:n] if n else np.zeros(0, np.int64)
    del_counts = np.bincount(dl_r, minlength=n)[:n] if n else np.zeros(0, np.int64)

    gmeta, gpay = pack_ints(gsz)
    key_bits = blocks.pack_mask(is_key)
    null_bits = blocks.pack_mask(is_null)
    pmeta, ppay = pack_ints_z(put_counts.astype(np.int64))
    dmeta, dpay = pack_ints_z(del_counts.astype(np.int64))
    pk_block = encode_plain(pa.array(put_keys, type=pa.large_utf8()))
    pv_block = encode_plain(pa.array(put_vals, type=pa.large_utf8()))
    dk_block = encode_plain(pa.array(del_keys, type=pa.large_utf8()))
    meta = {
        "n": n,
        "groups": gmeta, "gplen": len(gpay),
        "kb_len": len(key_bits), "nb_len": len(null_bits),
        "pc": pmeta, "pclen": len(ppay),
        "dc": dmeta, "dclen": len(dpay),
        "pk_len": len(pk_block), "pv_len": len(pv_block),
    }
    payload = b"".join(
        (gpay, key_bits, null_bits, ppay, dpay, pk_block, pv_block, dk_block)
    )
    return blocks.frame("mapdelta", meta, payload)


def decode_mapdelta(meta: dict, payload: bytes) -> pa.Array:
    n = meta["n"]
    p = 0
    group_sizes = unpack_ints(meta["groups"], payload[p : p + meta["gplen"]]); p += meta["gplen"]
    is_key = blocks.unpack_mask(payload[p : p + meta["kb_len"]], n); p += meta["kb_len"]
    is_null = blocks.unpack_mask(payload[p : p + meta["nb_len"]], n); p += meta["nb_len"]
    put_counts = unpack_ints_z(meta["pc"], payload[p : p + meta["pclen"]]); p += meta["pclen"]
    del_counts = unpack_ints_z(meta["dc"], payload[p : p + meta["dclen"]]); p += meta["dclen"]
    _, m1, p1 = blocks.unframe(payload[p : p + meta["pk_len"]]); p += meta["pk_len"]
    pk_arr = decode_plain(m1, p1)
    _, m2, p2 = blocks.unframe(payload[p : p + meta["pv_len"]]); p += meta["pv_len"]
    put_vals = decode_plain(m2, p2)
    _, m3, p3 = blocks.unframe(payload[p:])
    dk_arr = decode_plain(m3, p3)

    if n == 0:
        return pa.array([], type=_MAP_TYPE)
    _ = group_sizes  # group heads are keyframes: intervals cannot cross

    # state segments: every keyframe (incl. null) starts a new segment,
    # so a put/del event is only ever visible within its segment
    seg = np.cumsum(is_key.astype(np.int64))  # 1-based segment per row
    n_seg = int(seg[-1])
    seg_end = np.searchsorted(seg, np.arange(1, n_seg + 1), side="right")

    rp = np.repeat(np.arange(n, dtype=np.int64), put_counts.astype(np.int64))
    rd = np.repeat(np.arange(n, dtype=np.int64), del_counts.astype(np.int64))
    keys = pc.dictionary_encode(pa.concat_arrays([pk_arr, dk_arr]))
    kcodes = keys.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    ukeys = keys.dictionary
    U = len(ukeys) + 1
    ev_r = np.concatenate((rp, rd))
    ev_s = seg[ev_r] if len(ev_r) else ev_r
    ev_put = np.concatenate(
        (np.ones(len(rp), dtype=bool), np.zeros(len(rd), dtype=bool))
    )
    # an event's value is its index into the put values (-1: a delete)
    ev_v = np.concatenate((np.arange(len(rp), dtype=np.int64), np.full(len(rd), -1)))

    # group by (segment, key) keeping row order: stable argsort by row,
    # then stable argsort by composite (segment, key) int64
    o1 = np.argsort(ev_r, kind="stable")
    o = o1[np.argsort((ev_s * U + kcodes)[o1], kind="stable")]
    ev_r, ev_s, ev_put, ev_v, kcodes = ev_r[o], ev_s[o], ev_put[o], ev_v[o], kcodes[o]
    same = np.zeros(len(ev_r), dtype=bool)
    if len(ev_r) > 1:
        same[:-1] = (ev_s[:-1] == ev_s[1:]) & (kcodes[:-1] == kcodes[1:])
    end = np.empty(len(ev_r), dtype=np.int64)
    if len(ev_r):
        end[:-1] = ev_r[1:]
        end[-1] = 0
        end = np.where(same, end, seg_end[ev_s - 1])

    # each put is visible from its row until the next event on the same
    # (segment, key) or the segment end — expand to one entry per
    # visible row, then build one Arrow MapArray
    vis = (end - ev_r)[ev_put]
    pr0 = ev_r[ev_put]
    pk = kcodes[ev_put]
    pv = ev_v[ev_put]

    total = int(vis.sum())
    out_r = np.repeat(pr0, vis) + (
        np.arange(total, dtype=np.int64) - np.repeat(np.cumsum(vis) - vis, vis)
    )
    out_k = np.repeat(pk, vis)
    out_v = np.repeat(pv, vis)

    order = np.argsort(out_r, kind="stable")
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(np.bincount(out_r, minlength=n)[:n], out=offsets[1:])
    entries = pa.StructArray.from_arrays(
        [ukeys.take(pa.array(out_k[order], type=pa.int64())),
         put_vals.take(pa.array(out_v[order], type=pa.int64()))],
        fields=[_MAP_TYPE.key_field, _MAP_TYPE.item_field],
    )
    validity, nulls = blocks.validity_buffer(is_null)
    return pa.Array.from_buffers(
        _MAP_TYPE, n, [validity, pa.py_buffer(offsets.astype(np.int32).tobytes())],
        null_count=nulls, children=[entries],
    )


# ------------------------------------------------------ array<string> ----

_LIST_TYPE = pa.large_list(pa.large_utf8())


def strlist_raw_bytes(arr: pa.Array) -> int:
    """utf-8 bytes of all elements (vectorized raw-size proxy)."""
    la = blocks.as_type(arr, _LIST_TYPE)
    if len(la.values) == 0:
        return 0
    return int(pc.sum(pc.binary_length(la.values.cast(pa.large_binary()))).as_py() or 0)


def encode_strlist(arr: pa.Array) -> bytes:
    """array<string> column: FoR-packed lengths + flattened elements.

    Vectorized via Arrow LargeListArray buffers (round 2 looped per row
    to collect lengths and elements)."""
    la = blocks.as_type(arr, _LIST_TYPE)
    offs = la.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    lengths = np.diff(offs) if len(la) else np.zeros(0, dtype=np.int64)
    lmeta, lpay = pack_ints_z(lengths)
    elems = encode_plain(la.values)
    meta = {"n": len(la), "lens": lmeta, "lplen": len(lpay)}
    mb = blocks.mask_part(meta, blocks.null_mask(la))
    return blocks.frame("strlist", meta, mb + lpay + elems)


def decode_strlist(meta: dict, payload: bytes) -> pa.Array:
    n = meta["n"]
    mask, payload = blocks.split_mask(meta, payload, n)
    lengths = unpack_ints_z(meta["lens"], payload[: meta["lplen"]])
    _, emeta, epay = blocks.unframe(payload[meta["lplen"] :])
    offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lengths, out=offs[1:])
    return pa.LargeListArray.from_arrays(
        pa.array(offs), decode_plain(emeta, epay),
        mask=None if mask is None else pa.array(mask),
    )
