"""CHAIN codec: deltoid-style inter-version content deltas.

Re-expresses the reference's snapshot chain
(``DeltaSnapshots``/``push_snapshot``/``to_full_snapshots``,
/root/reference/deltoid/src/snapshot/delta.rs:108-151) and its Vec edit
alphabet (``EltDelta::{Edit{index,item}, Add(delta), Remove{count}}``,
/root/reference/deltoid/src/vec.rs:103-137) as a columnar kernel:

* a file's commit chain = ordered versions of ``content`` within one
  ``(repo, path)`` group (rows must arrive group-contiguous, ordered);
* version 0 and every K-th version is a **keyframe** (full text) —
  mirrors "the first delta is a full snapshot" (delta.rs:137-151) while
  bounding decode cost;
* other versions store a positional line edit script vs the previous
  version: edit (index, new line), appended lines, tail-remove count —
  exactly the reference's stack-like positional diff (vec.rs:8-11,
  50-67: NOT an LCS), with consecutive removes coalesced into one count
  (vec.rs:61-64);
* a delta that would be larger than the full text degrades to a
  keyframe (short-circuit, analog of gen/structs.rs:457 equality check);
* a delta row may instead store one splice (clean prefix and suffix
  kept, the middle replaced), whichever script is smaller;
* an appended fragment's group may continue a stored chain: its first
  version deltas against the base text (the stored tail), and may store
  a few changed chars of a long line instead of the whole line;
* nulls are explicit states: any null->x or x->null transition forces a
  keyframe, so value->null round-trips exactly — fixing the
  ``OptionDelta`` ambiguity the reference documents
  (/root/reference/deltoid-quickcheck-tests/src/main.rs:14-22).

Encoding is one vectorized pass per block: every delta row, a seeded
first version included, gets both scripts and their costs from one
segmented compare over int line codes (``_precompute_deltas``), and
every stream is assembled by index gathers.  Only the char-splice trial
of a seeded first version runs Python per group.

Round-trip law (reference: deltoid-quickcheck-tests/src/main.rs:26-32):
``decode_chain_arrow(*unframe(encode_chain(contents, groups))[1:])``
equals ``contents`` bytewise, nulls included.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from . import blocks
from .intcodec import pack_ints, pack_ints_z, unpack_ints, unpack_ints_z
from .strings import as_large_utf8, decode_plain, encode_plain, null_mask

DEFAULT_KEYFRAME_INTERVAL = 32


def _seed_code_table(texts: list[str], line_dict: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """Map seed texts' lines into a block's line-code space in one pass:
    (codes, offsets), text ``j``'s codes being ``codes[offsets[j]:offsets[j+1]]``.

    One ``split_pattern`` and one ``index_in`` per block (the hash set
    over the block's line dictionary is built once, not once per seeded
    group).  Dictionary hits get their code; lines outside the
    dictionary get negative ids, numbered in first-appearance order
    across the texts, so equal seed lines share one id and no id ever
    equals a code."""
    la = pc.split_pattern(pa.array(texts, type=pa.large_utf8()), pattern="\n")
    lines = la.values
    codes = (
        pc.index_in(lines, value_set=line_dict)
        .fill_null(-1).to_numpy(zero_copy_only=False).astype(np.int64)
    )
    miss = codes < 0
    if miss.any():
        unseen = pc.dictionary_encode(lines.filter(pa.array(miss))).indices
        codes[miss] = -(unseen.to_numpy(zero_copy_only=False).astype(np.int64) + 1)
    return codes, la.offsets.to_numpy().astype(np.int64)


# --- char-level intra-line refinement (the reference's own admitted gap:
# string.rs:37 "TODO: Improve delta space efficiency" — line-granular
# splices are wasteful when a version changes a few chars inside a LONG
# line, the minified/one-line-file case).  Tried only on a seeded
# group's first version with <= CHAR_EDIT_MAX edited lines, per edited
# line only when the char splice beats storing the full new line, and
# kept only when the whole script beats every line-level one (cost
# gate) — so corpora without long-line edits encode byte-identically.
CHAR_EDIT_MAX = 2
_CHAR_INT_COST = 6  # cs + cd as packed ints, amortized


def _char_refine(
    old_lines: list, idxs: np.ndarray, new_lines: list
) -> tuple[list, list, list, list]:
    """Try char-splice mode for each (old line -> new line) edit pair:
    store (col_start, del_count, fragment) instead of the whole new
    line when that is smaller.  Returns the per-edit char-mode bits and
    the (col_start, del_count, fragment) of each char-mode edit."""
    bits: list[bool] = []
    cs: list[int] = []
    cd: list[int] = []
    frags: list[str] = []
    for idx, new in zip(idxs.tolist(), new_lines):
        old = old_lines[idx]
        lim = min(len(old), len(new))
        p = 0
        while p < lim and old[p] == new[p]:
            p += 1
        s = 0
        while s < lim - p and old[len(old) - 1 - s] == new[len(new) - 1 - s]:
            s += 1
        frag = new[p : len(new) - s]
        bits.append(len(frag) + _CHAR_INT_COST < len(new))
        if bits[-1]:
            cs.append(p)
            cd.append(len(old) - p - s)
            frags.append(frag)
    return bits, cs, cd, frags


def _precompute_deltas(
    codes: np.ndarray,
    prev_lo: np.ndarray,
    na: np.ndarray,
    cur_lo: np.ndarray,
    nb: np.ndarray,
    line_lens: np.ndarray,
    clen: np.ndarray,
):
    """Both delta scripts (positional + splice) and their costs for
    EVERY delta row at once.  Row ``c`` compares its previous version's
    codes ``codes[prev_lo[c] : prev_lo[c] + na[c]]`` with its own
    ``codes[cur_lo[c] : cur_lo[c] + nb[c]]``.  ``codes`` is the block's
    line codes, followed, in a seeded block, by the seed codes of
    ``_seed_code_table``: a seeded group's first version compares
    against its base text like any other row against the row before it.

    All prefix comparisons run as ONE segmented elementwise compare over
    a gathered index space, per-segment edit lists fall out of a single
    flatnonzero + searchsorted, and the suffix (splice) comparison is a
    second segmented pass over only the undecided tails.

    Returns (choice, ecounts, local_idx, p, s, m, pos_cost, spl_cost,
    text_chars, achars): choice is 0=keyframe, 1=splice, 2=positional;
    ecounts and local_idx are the positional script's per-row edit
    count and each edit's line index, flat in row order; p and s are
    the splice's clean prefix and suffix, m is min(na, nb); the costs
    (chars + 8 per packed int, all cur-side via the line-length prefix
    sums ``clen``) are what the choice compared, achars the appended
    lines' share of pos_cost.

    Index/temporary dtype is int32 when the code count allows (always,
    in practice — blocks are bounded by target_rows): the big
    temporaries here (rep, j, the gather indices) are line-count-sized,
    and halving their width halves the traffic on this bandwidth-bound
    kernel.
    """
    idt = np.int32 if len(codes) < (1 << 31) - 64 else np.int64
    prev_lo, na, cur_lo, nb = (x.astype(idt) for x in (prev_lo, na, cur_lo, nb))
    cur_hi = cur_lo + nb
    m = np.minimum(na, nb)
    D = len(cur_lo)
    seg_off = np.concatenate(([0], np.cumsum(m, dtype=np.int64))).astype(idt)
    tot = int(seg_off[-1]) if D else 0
    rep = np.repeat(np.arange(D, dtype=idt), m)
    j = np.arange(tot, dtype=idt) - seg_off[rep]
    neq = codes[prev_lo[rep] + j] != codes[cur_lo[rep] + j]
    nz = np.flatnonzero(neq)
    seg_nz = rep[nz]
    ecounts = np.bincount(seg_nz, minlength=D).astype(np.int64)
    local_idx = (nz - seg_off[seg_nz]).astype(idt)
    # first mismatch per segment (defaults to m: full prefix match)
    p = m.copy()
    if len(nz):
        useg, ufirst = np.unique(seg_nz, return_index=True)
        p[useg] = local_idx[ufirst]
    # longest clean suffix within the undecided middle (reference
    # semantics: s = index of first mismatch scanning backwards)
    max_s = m - p
    s = np.zeros(D, dtype=idt)
    sub = np.flatnonzero(max_s > 0)
    if len(sub):
        ms = max_s[sub]
        off2 = np.concatenate(([0], np.cumsum(ms, dtype=np.int64))).astype(idt)
        rep2 = np.repeat(np.arange(len(sub), dtype=idt), ms)
        j2 = np.arange(int(off2[-1]), dtype=idt) - off2[rep2]
        a_start = prev_lo[sub] + na[sub] - ms
        b_start = cur_lo[sub] + nb[sub] - ms
        neq2 = codes[a_start[rep2] + j2] != codes[b_start[rep2] + j2]
        nz2 = np.flatnonzero(neq2)
        s_sub = ms.copy()
        if len(nz2):
            u2, f2 = np.unique(rep2[nz2][::-1], return_index=True)
            last_local = nz2[::-1][f2] - off2[u2]
            s_sub[u2] = ms[u2] - 1 - last_local
        s[sub] = s_sub
    # script costs: each script also stores 3 per-row ints
    echars = np.zeros(D, dtype=np.int64)
    if len(nz):
        echars = np.bincount(
            seg_nz, weights=line_lens[cur_lo[seg_nz] + local_idx], minlength=D
        ).astype(np.int64)
    achars = clen[cur_hi] - clen[cur_lo + m]
    pos_cost = echars + achars + 8 * (ecounts + 3)
    sins_cnt = nb - p - s
    spl_chars = clen[cur_lo + p + sins_cnt] - clen[cur_lo + p]
    spl_cost = spl_chars + 8 * 3
    text_chars = clen[cur_hi] - clen[cur_lo] + (nb - 1)
    choice = np.full(D, 2, dtype=np.int8)
    choice[spl_cost < pos_cost] = 1
    choice[np.minimum(pos_cost, spl_cost) >= text_chars] = 0
    return choice, ecounts, local_idx, p, s, m, pos_cost, spl_cost, text_chars, achars


def encode_chain(
    contents: pa.Array,
    group_sizes: np.ndarray,
    keyframe_interval: int = DEFAULT_KEYFRAME_INTERVAL,
    base_texts: list | None = None,
    base_versions: np.ndarray | None = None,
) -> bytes:
    """Encode a content column whose rows are group-contiguous chains.

    base_texts / base_versions implement the reference's incremental
    ``push_snapshot`` (delta.rs:108-125): when a group continues an
    already-encoded chain, its first version deltas against the supplied
    base text instead of opening with a keyframe, and the keyframe
    cadence counts from base_versions[g] so appended fragments keep the
    same bounded decode depth.  The decoder must be handed the same
    base texts (the previous fragment's tails) — meta records which
    groups are seeded.

    Takes a string array (or anything ``as_large_utf8`` converts); the whole
    kernel is Arrow-native: lines are dictionary-encoded ONCE and every
    per-version comparison runs on int codes (exact: Arrow's hashing is
    byte-aware), keyframe texts and delta lines leave via Arrow takes
    into encode_plain — the content column never materializes as Python
    strings.  Seeded and unseeded blocks take one vectorized path: a
    seeded first version is one more delta row of ``_precompute_deltas``
    (its previous version being the base text's codes), and every stream
    is gathered with index arrays.  The only per-group Python is the
    char-splice trial of seeded first versions with few edited lines.
    """
    arr = as_large_utf8(contents)
    n = len(arr)
    assert int(np.sum(group_sizes)) == n, "group sizes must cover all rows"
    is_null = null_mask(arr)
    # ONE Arrow pass splits every version into lines, ONE dictionary
    # encode maps every line to an int code; version i's lines are then
    # the int slice codes[loffs[i]:loffs[i+1]] and all elementwise
    # line comparisons are C integer compares
    if n:
        la = pc.split_pattern(arr, pattern="\n")
        ld = pc.dictionary_encode(la.values)
        # keep Arrow's native int32 dictionary codes: every compare and
        # gather in the delta precompute moves half the bytes an int64
        # upcast would (line counts per block are far below 2^31)
        codes = ld.indices.to_numpy()
        if codes.dtype != np.int32:
            codes = codes.astype(np.int32)
        line_dict = ld.dictionary
        loffs = la.offsets.to_numpy().astype(np.int64)
        # per-line char counts via the (small) dictionary + prefix sums:
        # every script-cost term is O(1) lookups
        dlens = pc.utf8_length(line_dict).to_numpy(zero_copy_only=False).astype(np.int64)
        line_lens = dlens[codes] if len(codes) else np.zeros(0, dtype=np.int64)
        clen = np.concatenate(([0], np.cumsum(line_lens)))
    else:
        codes = np.zeros(0, dtype=np.int32)
        line_dict = pa.array([], type=pa.large_utf8())
        loffs = np.zeros(1, dtype=np.int64)
        dlens = line_lens = np.zeros(0, dtype=np.int64)
        clen = np.zeros(1, dtype=np.int64)
    gs = np.asarray(group_sizes, dtype=np.int64)
    if base_texts is None:
        base_texts = [None] * len(gs)
    v0 = (
        np.zeros(len(gs), dtype=np.int64) if base_versions is None
        else np.asarray(base_versions, dtype=np.int64)
    )
    seeded = np.array([t is not None for t in base_texts], dtype=bool)

    # delta rows: a version whose previous version is the row before it
    # (v > 0, neither side null, the cadence doesn't force a keyframe),
    # and the first version of a seeded group, whose previous version
    # is its base text.  Cost-degraded keyframes don't affect later
    # comparisons (the comparison chain is always vs the raw previous
    # version), so the whole pair set is known upfront.
    gstarts = np.cumsum(gs) - gs
    v_pos = np.arange(n, dtype=np.int64) - np.repeat(gstarts, gs)
    cadence_key = (np.repeat(v0, gs) + v_pos) % keyframe_interval == 0
    prev_null = np.concatenate(([True], is_null))[:n]
    cand_mask = ~cadence_key & ~is_null & (v_pos > 0) & ~prev_null
    seed_g = np.flatnonzero(seeded & (gs > 0))
    seed_rows = gstarts[seed_g]
    live = ~cadence_key[seed_rows] & ~is_null[seed_rows]
    seed_g, seed_rows = seed_g[live], seed_rows[live]
    cand_mask[seed_rows] = True
    cand = np.flatnonzero(cand_mask)
    cur_lo = loffs[cand]
    nb = loffs[cand + 1] - cur_lo
    prev_lo = loffs[cand - 1]  # a seed row's range is set below
    na = cur_lo - prev_lo
    seed_at = np.searchsorted(cand, seed_rows)  # seed rows' delta-row slots
    if len(seed_rows):
        seed_codes, seed_offs = _seed_code_table([base_texts[g] for g in seed_g], line_dict)
        prev_lo[seed_at] = len(codes) + seed_offs[:-1]
        na[seed_at] = np.diff(seed_offs)
        codes = np.concatenate((codes, seed_codes.astype(codes.dtype)))
    choice, ecounts, local_idx, p, s, m, pos_cost, spl_cost, text_chars, achars = (
        _precompute_deltas(codes, prev_lo, na, cur_lo, nb, line_lens, clen)
    )

    # char-splice trial (string.rs:37's admitted gap): a seeded first
    # version's base text lives in the PREVIOUS fragment's streams, so
    # zstd can't match against it here — a few changed chars inside a
    # long line beat every line-level script, including the keyframe
    # degrade (a single-line file's "new line" IS the whole text,
    # re-stored per append without this).  Not tried on the other rows,
    # deliberately — measured: when both versions of a pair sit in the
    # SAME compressed block, zstd's cross-version matching already
    # captures the intra-line redundancy, and explicit char deltas came
    # out net-NEGATIVE on every fixture shape (BASELINE.md round-5
    # "char-level delta" table).
    eoff = np.concatenate(([0], np.cumsum(ecounts)))
    char_e = np.zeros(int(eoff[-1]), dtype=bool)  # per flat edit entry
    char_cs: list[int] = []
    char_cd: list[int] = []
    char_frags: list[str] = []
    tried = (ecounts[seed_at] > 0) & (ecounts[seed_at] <= CHAR_EDIT_MAX)
    t_at = seed_at[tried]
    # the tried rows' new edit lines, in one take
    t_codes = codes[
        np.repeat(cur_lo[t_at], ecounts[t_at])
        + local_idx[_expand_ranges(eoff[t_at], ecounts[t_at])]
    ]
    t_new = line_dict.take(pa.array(t_codes)).to_pylist()
    t_lens = dlens[t_codes].tolist()
    k1 = 0
    for c, g in zip(t_at.tolist(), seed_g[tried].tolist()):
        e0, e1 = int(eoff[c]), int(eoff[c + 1])
        k0, k1 = k1, k1 + e1 - e0
        bits, t_cs, t_cd, t_frags = _char_refine(
            base_texts[g].split("\n"), local_idx[e0:e1], t_new[k0:k1]
        )
        if not t_frags:
            continue
        char_cost = (
            sum(w for w, b in zip(t_lens[k0:k1], bits) if not b)
            + sum(len(f) for f in t_frags) + _CHAR_INT_COST * len(t_frags)
            + int(achars[c]) + 8 * (e1 - e0 + 3)
        )
        if char_cost < min(pos_cost[c], spl_cost[c], text_chars[c]):
            choice[c] = 2
            char_e[e0:e1] = bits
            char_cs += t_cs
            char_cd += t_cd
            char_frags += t_frags

    # per delta row: ecnt/acnt/rcnt are (edit_count, add_count,
    # remove_count) for positional scripts, (ins_count, start, del_count)
    # for splice scripts; the splice bits pick the interpretation
    is_key = ~cand_mask
    is_key[cand[choice == 0]] = True
    dmask = choice != 0
    spl_d = choice[dmask] == 1
    p_d, s_d, na_d, nb_d, m_d = (x[dmask].astype(np.int64) for x in (p, s, na, nb, m))
    lo_d = cur_lo[dmask]
    ins_d = nb_d - p_d - s_d
    ecnt_arr = np.where(spl_d, ins_d, ecounts[dmask])
    acnt_arr = np.where(spl_d, p_d, nb_d - m_d)
    rcnt_arr = np.where(spl_d, na_d - p_d - s_d, np.maximum(na_d - nb_d, 0))
    # per flat edit entry: a positional row's edits go to the edit-index
    # stream, and the full-line ones (not char mode) ship their new line
    rep_e = np.repeat(np.arange(len(cand), dtype=np.int64), ecounts)
    pos_e = np.repeat(choice == 2, ecounts)
    flat_idx = local_idx[pos_e].astype(np.int64)
    char_bits = char_e[pos_e]
    line_e = pos_e & ~char_e
    # delta line stream = per delta row, in row order:
    #   splice     -> codes[lo+p : hi-s]
    #   positional -> codes at each full-line edit, then codes[lo+m : hi]
    # assembled as one gather-index array via range expansion
    L1 = np.where(spl_d, ins_d, np.bincount(rep_e[line_e], minlength=len(cand))[dmask])
    L2 = np.where(spl_d, 0, nb_d - m_d)
    out_off = np.concatenate(([0], np.cumsum(L1 + L2)))
    gidx = np.empty(int(out_off[-1]), dtype=np.int64)
    dest1 = _expand_ranges(out_off[:-1], L1)
    mask1 = np.repeat(spl_d, L1)
    gidx[dest1[mask1]] = _expand_ranges((lo_d + p_d)[spl_d], L1[spl_d])
    gidx[dest1[~mask1]] = cur_lo[rep_e[line_e]] + local_idx[line_e]
    gidx[_expand_ranges((out_off[:-1] + L1)[~spl_d], L2[~spl_d])] = (
        _expand_ranges((lo_d + m_d)[~spl_d], L2[~spl_d])
    )

    gmeta, gpay = pack_ints(gs)
    seed_bits = blocks.pack_mask(seeded)
    key_bits = blocks.pack_mask(is_key)
    null_bits = blocks.pack_mask(is_null)
    splice_bits = blocks.pack_mask(spl_d)
    # keyframe texts and delta lines leave as Arrow takes (C gathers),
    # never as Python strings
    keys_block = encode_plain(arr.take(pa.array(np.flatnonzero(is_key & ~is_null))))
    emeta, epay = pack_ints(ecnt_arr)
    ameta, apay = pack_ints(acnt_arr)
    rmeta, rpay = pack_ints(rcnt_arr)
    imeta, ipay = pack_ints_z(flat_idx)
    lines_block = encode_plain(line_dict.take(pa.array(codes[gidx])))
    meta = {
        "n": n, "k": keyframe_interval,
        "groups": gmeta, "gplen": len(gpay),
        "kb_len": len(key_bits), "nb_len": len(null_bits),
        "seeded": bool(seeded.any()), "sd_len": len(seed_bits),
        "sb_len": len(splice_bits), "n_deltas": len(spl_d),
        "keys_len": len(keys_block),
        "ec": emeta, "eclen": len(epay),
        "ac": ameta, "aclen": len(apay),
        "rc": rmeta, "rclen": len(rpay),
        "ei": imeta, "eilen": len(ipay),
    }
    char_streams: tuple[bytes, ...] = ()
    if char_frags:
        # char-splice streams ship ONLY when at least one edit took the
        # refinement — blocks without long-line edits stay byte-identical
        # to the pre-refinement format (golden-shas unchanged)
        cb = blocks.pack_mask(char_bits)
        csmeta, cspay = pack_ints(np.array(char_cs, dtype=np.int64))
        cdmeta, cdpay = pack_ints(np.array(char_cd, dtype=np.int64))
        frags_block = encode_plain(pa.array(char_frags, type=pa.large_utf8()))
        meta.update(
            n_edits=len(char_bits), cb_len=len(cb),
            cs=csmeta, cslen=len(cspay),
            cd=cdmeta, cdlen=len(cdpay),
            frags_len=len(frags_block),
        )
        char_streams = (cb, cspay, cdpay, frags_block)
    payload = b"".join(
        (gpay, seed_bits, key_bits, null_bits, splice_bits, keys_block,
         epay, apay, rpay, ipay, *char_streams, lines_block)
    )
    return blocks.frame("chain", meta, payload)


def _expand_ranges(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Flat int64 index array [starts[0]..+lens[0], starts[1]..+lens[1], …]."""
    total = int(lens.sum())
    if total == 0:
        return np.zeros(0, dtype=np.int64)
    rep = np.repeat(np.arange(len(lens), dtype=np.int64), lens)
    off = np.concatenate(([0], np.cumsum(lens)))
    return starts[rep] + (np.arange(total, dtype=np.int64) - off[rep])


def decode_chain_arrow(
    meta: dict,
    payload: bytes,
    base_texts: list | None = None,
    groups: np.ndarray | None = None,
) -> pa.Array:
    """Chain decode in dictionary-code space, returning a LargeStringArray.

    ``groups`` (a boolean mask over the block's chain groups) replays
    only the selected groups and returns only their rows, in block
    order; ``None`` selects every group.  The streams are restricted
    before the fold: each group's cursors into the keyframe, delta-row,
    edit, char-splice and delta-line streams are cumulative sums of the
    per-row counts, so an unselected group's keyframe texts and delta
    lines are never split, dictionary-encoded or folded.
    ``base_texts`` stays indexed by the block's group number.

    The left-fold over versions is inherently sequential per group, but
    nothing about it needs Python strings: keyframe texts, delta lines
    and seeded base texts are split/dictionary-encoded ONCE (the encode
    side's trick in reverse), every script application is numpy slicing
    / fancy assignment on small int arrays, and all row texts
    materialize at the end through a single Arrow take + binary_join —
    one C pass over the line buffers instead of a ``"\\n".join`` per
    row.  The Arrow result crosses the Spark boundary without ever
    materializing Python strings (the decode job returns it through
    applyInArrow); output is byte-identical to the old per-row loop
    (pinned by the golden-sha and e2e parity tests).
    """
    n = meta["n"]
    p = 0
    gplen = meta["gplen"]
    group_sizes = unpack_ints(meta["groups"], payload[p : p + gplen]); p += gplen
    seeded = blocks.unpack_mask(payload[p : p + meta["sd_len"]], len(group_sizes)); p += meta["sd_len"]
    is_key = blocks.unpack_mask(payload[p : p + meta["kb_len"]], n); p += meta["kb_len"]
    is_null = blocks.unpack_mask(payload[p : p + meta["nb_len"]], n); p += meta["nb_len"]
    splice = blocks.unpack_mask(payload[p : p + meta["sb_len"]], meta["n_deltas"]); p += meta["sb_len"]
    _, kmeta, kpay = blocks.unframe(payload[p : p + meta["keys_len"]]); p += meta["keys_len"]
    key_arr = decode_plain(kmeta, kpay)
    edit_counts = unpack_ints(meta["ec"], payload[p : p + meta["eclen"]]); p += meta["eclen"]
    add_counts = unpack_ints(meta["ac"], payload[p : p + meta["aclen"]]); p += meta["aclen"]
    remove_counts = unpack_ints(meta["rc"], payload[p : p + meta["rclen"]]); p += meta["rclen"]
    edit_idx_flat = unpack_ints_z(meta["ei"], payload[p : p + meta["eilen"]]); p += meta["eilen"]
    # char-splice refinement streams (absent on blocks encoded without
    # any char-mode edit, including every pre-refinement block)
    ccum = cb_l = cs_arr = cd_arr = frag_l = char_bits = frag_arr = None
    if "cb_len" in meta:
        char_bits = blocks.unpack_mask(
            payload[p : p + meta["cb_len"]], meta["n_edits"]
        ); p += meta["cb_len"]
        cs_arr = unpack_ints(meta["cs"], payload[p : p + meta["cslen"]]); p += meta["cslen"]
        cd_arr = unpack_ints(meta["cd"], payload[p : p + meta["cdlen"]]); p += meta["cdlen"]
        _, fmeta, fpay = blocks.unframe(payload[p : p + meta["frags_len"]]); p += meta["frags_len"]
        frag_arr = decode_plain(fmeta, fpay)
    _, lmeta, lpay = blocks.unframe(payload[p:])
    dl_arr = decode_plain(lmeta, lpay)

    if groups is not None:
        # restrict every stream to the selected groups' entries
        gsel = np.asarray(groups, dtype=bool)
        rsel = np.repeat(gsel, np.asarray(group_sizes, dtype=np.int64))
        key_arr = key_arr.filter(pa.array(rsel[is_key & ~is_null]))
        dsel = rsel[~is_key]
        e_len = np.where(splice, 0, edit_counts)  # splice rows store no indices
        esel = np.repeat(dsel, e_len)
        l_len = np.where(splice, edit_counts, edit_counts + add_counts)
        if char_bits is not None:
            # a char-mode edit takes its text from the frag stream, not a line
            eoff = np.concatenate(([0], np.cumsum(e_len)))
            cum = np.concatenate(([0], np.cumsum(char_bits, dtype=np.int64)))
            l_len = l_len - (cum[eoff[1:]] - cum[eoff[:-1]])
            fsel = esel[char_bits]
            cs_arr, cd_arr = cs_arr[fsel], cd_arr[fsel]
            frag_arr = frag_arr.filter(pa.array(fsel))
            char_bits = char_bits[esel]
        dl_arr = dl_arr.filter(pa.array(np.repeat(dsel, l_len)))
        edit_idx_flat = edit_idx_flat[esel]
        splice, edit_counts, add_counts, remove_counts = (
            x[dsel] for x in (splice, edit_counts, add_counts, remove_counts)
        )
        is_key, is_null = is_key[rsel], is_null[rsel]
        group_sizes, seeded = group_sizes[gsel], seeded[gsel]
        if base_texts is not None:
            base_texts = [base_texts[g] for g in np.flatnonzero(gsel)]
        n = int(rsel.sum())
    if seeded.any() and base_texts is None:
        raise ValueError("chain block has seeded groups; decode needs base_texts")
    if char_bits is not None:
        frag_l = frag_arr.to_pylist()
        cb_l = char_bits.tolist()
        ccum = np.concatenate(([0], np.cumsum(char_bits, dtype=np.int64))).tolist()

    # line universe = keyframe lines ++ delta lines ++ seeded base lines,
    # dictionary-encoded once; every fold step below is int-code numpy
    key_la = pc.split_pattern(key_arr, pattern="\n")
    key_loffs = key_la.offsets.to_numpy().astype(np.int64)
    seeded_gs = np.flatnonzero(seeded)
    base_list = []
    for g in seeded_gs:
        if base_texts[g] is None:
            raise ValueError(f"seeded group {g} has no base text")
        base_list.append(base_texts[g])
    base_la = pc.split_pattern(
        pa.array(base_list, type=pa.large_utf8()), pattern="\n"
    )
    base_loffs = base_la.offsets.to_numpy().astype(np.int64)
    universe = pa.concat_arrays(
        [key_la.values.cast(pa.large_utf8()), dl_arr, base_la.values.cast(pa.large_utf8())]
    )
    dct = pc.dictionary_encode(universe)
    # int32 code space end-to-end (native Arrow dictionary indices):
    # halves the fold's copy traffic and the final take's index bytes
    all_codes = dct.indices.to_numpy()
    if all_codes.dtype != np.int32:
        all_codes = all_codes.astype(np.int32)
    n_key_lines = len(key_la.values)
    n_dl = len(dl_arr)
    key_codes = all_codes[:n_key_lines]
    dl_codes = all_codes[n_key_lines : n_key_lines + n_dl]
    base_codes = all_codes[n_key_lines + n_dl :]
    base_of_group = {int(g): s for s, g in enumerate(seeded_gs)}

    # ---- per-row output line counts, vectorized (segmented cumsum) ----
    # every row's line count is known BEFORE the fold: keyframes from the
    # key text line offsets, delta rows as prev_len + d where d is
    # +adds-removes (positional) / +ins-del (splice); anchors (keyframes,
    # nulls, seeded group starts) reset the running value.  This lets the
    # fold write every version directly into ONE preallocated flat code
    # buffer — no per-version allocations, no end-of-decode concatenate.
    gs_arr = np.asarray(group_sizes, dtype=np.int64)
    group_starts = np.concatenate(([0], np.cumsum(gs_arr)))[:-1] if len(gs_arr) else np.zeros(0, np.int64)
    d = np.zeros(n, dtype=np.int64)
    drows = np.flatnonzero(~is_key) if n else np.zeros(0, np.int64)
    if len(drows):
        d[drows] = np.where(
            splice, edit_counts - remove_counts, add_counts - remove_counts
        )
    anchor = is_key.copy() if n else np.zeros(0, dtype=bool)
    anchor_val = np.zeros(n, dtype=np.int64)
    key_rows = np.flatnonzero(is_key & ~is_null)
    anchor_val[key_rows] = np.diff(key_loffs)[: len(key_rows)]
    if len(seeded_gs):
        base_lens = np.diff(base_loffs)
        for s, g in enumerate(seeded_gs):
            if gs_arr[g] == 0:
                continue
            r0 = int(group_starts[g])
            if not is_key[r0]:  # seeded first row deltas against the base
                anchor[r0] = True
                anchor_val[r0] = int(base_lens[s]) + int(d[r0])
    if n:
        cs = np.cumsum(d)
        adj = np.where(anchor, anchor_val - cs, 0)
        last_anchor = np.maximum.accumulate(np.where(anchor, np.arange(n), -1))
        # rows before any anchor can't exist (row 0 is always a keyframe
        # or a seeded anchor), but guard the -1 for empty-group layouts
        lens_rows = np.where(
            last_anchor >= 0, adj[np.maximum(last_anchor, 0)] + cs, 0
        )
        lens_rows[is_null] = 0
    else:
        lens_rows = np.zeros(0, dtype=np.int64)
    row_offs = np.concatenate(([0], np.cumsum(lens_rows)))
    flat = np.empty(int(row_offs[-1]), dtype=np.int32)

    # python-list cursors: scalar indexing into lists is ~3x cheaper
    # than numpy scalar extraction inside the 1-iteration-per-version loop
    ec_l = edit_counts.tolist()
    ac_l = add_counts.tolist()
    rc_l = remove_counts.tolist()
    sp_l = splice.tolist()
    key_l = is_key.tolist()
    null_l = is_null.tolist()

    ki = 0          # keyframe cursor
    di = 0          # delta row cursor
    ei = 0          # flat edit-index cursor
    li = 0          # delta line cursor
    fi = 0          # char-splice cursor (cs/cd/frag streams)
    dict_vals = dct.dictionary
    dict_len = len(dict_vals)
    extra: list[str] = []  # char-spliced lines, codes dict_len + i
    row = 0
    for g, gsize in enumerate(group_sizes):
        if seeded[g]:
            s = base_of_group[int(g)]
            prev: np.ndarray | None = base_codes[base_loffs[s] : base_loffs[s + 1]]
        else:
            prev = None
        for i in range(row, row + int(gsize)):
            if key_l[i]:
                if null_l[i]:
                    prev = None
                else:
                    cur = flat[row_offs[i] : row_offs[i + 1]]
                    cur[:] = key_codes[key_loffs[ki] : key_loffs[ki + 1]]; ki += 1
                    prev = cur
            else:
                c1 = ec_l[di]; c2 = ac_l[di]; c3 = rc_l[di]
                is_splice = sp_l[di]
                di += 1
                cur = flat[row_offs[i] : row_offs[i + 1]]
                if is_splice:  # (ins_count, start, del_count)
                    cur[:c2] = prev[:c2]
                    cur[c2 : c2 + c1] = dl_codes[li : li + c1]; li += c1
                    cur[c2 + c1 :] = prev[c2 + c3 :]
                else:  # (edit_count, add_count, remove_count)
                    idx = edit_idx_flat[ei : ei + c1]
                    nchar = (ccum[ei + c1] - ccum[ei]) if ccum is not None else 0
                    # edit indices are < m = min(na, nb), so they always
                    # land inside the tail-trimmed region
                    keep = len(prev) - c3
                    cur[:keep] = prev[:keep]
                    if nchar == 0:
                        elines = dl_codes[li : li + c1]; li += c1
                        if c1:
                            cur[idx] = elines
                    else:
                        # mixed full-line / char-splice edits: char-mode
                        # lines materialize from the PREVIOUS version's
                        # line text and get fresh codes past the dict
                        for j in range(c1):
                            ij = int(idx[j])
                            if cb_l[ei + j]:
                                oc = int(prev[ij])
                                old = (
                                    dict_vals[oc].as_py()
                                    if oc < dict_len
                                    else extra[oc - dict_len]
                                )
                                csv = int(cs_arr[fi]); cdv = int(cd_arr[fi])
                                newt = old[:csv] + frag_l[fi] + old[csv + cdv :]
                                fi += 1
                                cur[ij] = dict_len + len(extra)
                                extra.append(newt)
                            else:
                                cur[ij] = dl_codes[li]; li += 1
                    ei += c1
                    if c2:
                        cur[keep:] = dl_codes[li : li + c2]
                    li += c2
                prev = cur
        row += int(gsize)

    # one materialization: flat codes -> take -> LargeList -> binary_join
    dictionary = (
        pa.concat_arrays(
            [dict_vals.cast(pa.large_utf8()), pa.array(extra, type=pa.large_utf8())]
        )
        if extra
        else dict_vals
    )
    values = dictionary.take(pa.array(flat))
    list_arr = pa.LargeListArray.from_arrays(pa.array(row_offs, type=pa.int64()), values)
    joined = pc.binary_join(list_arr, pa.scalar("\n", type=pa.large_utf8()))
    if is_null.any():
        # null rows have zero-length slots; re-take with a validity mask
        return joined.take(pa.array(np.arange(n, dtype=np.int64), mask=is_null))
    return joined

