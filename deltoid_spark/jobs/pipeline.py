"""The three job entry points (SURVEY.md §3.2):

J1 ``encode``  — table -> compressed blocks + manifest + metrics
J2 ``decode``  — blocks -> table' (bit-identical)
J3 ``verify``  — digest-parity audit of table vs table'

Dataflow (J1): read parquet -> skew-aware deterministic ``part_id``
(partitioning.py) -> **one planned shuffle** (``groupBy(part_id)``)
-> ``applyInArrow`` encode kernel (executor-local numpy and Arrow;
whole partition visible so (key...) chains are complete; each column
converts once to its storage array, ``coltypes.storage``, so nullable
ints and nested trees stay bit-exact) -> blocks parquet + manifest parquet.

Typed columns: each type family's storage, codec, zone map and where=
rules are one record in ``coltypes.py`` — strings through the codec
selector, int/boolean/timestamp/date through FoR+bit-pack, floats
through the FP lane codec; the content column, by role, through the
CHAIN trial.

Commit linearization: chains sort by ``order_cols`` within each key
group (default: ``ts`` when present, then ``commit``), realizing
SURVEY §3.2's rank linearization — content hashes as commit ids no
longer scramble version order when a timestamp column exists.

Resume + failure isolation (north_rule "resumable", reference error
taxonomy /root/reference/deltoid/src/error.rs:143-183): every encode
run gets a ``run_id`` (tagged on block rows) and a monotonically
increasing manifest ``gen``.  The manifest is append-only; readers
resolve each part_id to its latest generation.  A partition whose
kernel raises emits a single ``codec="error"`` block row -> manifest
``status="failed"`` with the error text; the job completes, decode
skips the partition, and a re-run re-encodes exactly the failed /
missing partitions.  Compaction is the exception: it rewrites data
that is already committed, so a failing partition fails the whole run
and leaves the manifest untouched.  Because decode joins blocks on
(part_id, run_id), fragments torn off by a crashed run can never mix
with a later run's fragments (whatever the input split layout) — in
any mode.

Zero per-row Python: the only JVM<->Python boundary is Arrow batches
into the kernels.
"""

from __future__ import annotations

import json
import os
import tempfile
import time
import uuid
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema

from ..kernels import (
    api,
    blocks as blocks_mod,
    bloom as bloom_kernel,
    chain as chain_kernel,
    selector,
    strings,
)
from . import coltypes
from .partitioning import (
    DEFAULT_TARGET_ROWS,
    apply_partition_map,
    build_partition_map,
)

# legacy fixed layout of the code table — the default spec when callers
# don't pass an explicit schema (fixture tables, streaming ingest)
COLUMNS = ["repo", "path", "commit", "lang", "content"]
DEFAULT_SPEC = [(c, "string") for c in COLUMNS]
DEFAULT_KEY_COLS = ("repo", "path")
DEFAULT_ORDER_COLS = ("commit",)
DEFAULT_CONTENT_COL = "content"

ROW_SCHEMA = "repo string, path string, commit string, lang string, content string"

# The engine's own tables.  Every read of an engine-owned table passes
# its schema explicitly: no read spends a schema-inference job, and
# columns that older files lack read as null — zone maps and Bloom
# filters then prune nothing, and origin/msg show as null in history().
# The block table is declared once, in Arrow (the kernels' output);
# BLOCK_SCHEMA is its Spark form.
BLOCK_ARROW = pa.schema([
    ("part_id", pa.int64()), ("frag_id", pa.int64()),
    ("column", pa.string()), ("codec", pa.string()),
    ("payload", pa.binary()), ("n_rows", pa.int64()),
    ("raw_bytes", pa.int64()), ("enc_bytes", pa.int64()),
    ("sha256", pa.string()), ("wall_s", pa.float64()),
    ("run_id", pa.string()),
    ("zmin", pa.int64()), ("zmax", pa.int64()),
    ("smin", pa.string()), ("smax", pa.string()),
    ("bloom", pa.binary()),
])
BLOCK_SCHEMA = from_arrow_schema(BLOCK_ARROW)
SPEC_ARROW = pa.schema([
    ("pos", pa.int32()), ("name", pa.string()), ("ddl", pa.string()),
    ("is_key", pa.bool_()), ("is_order", pa.bool_()), ("is_content", pa.bool_()),
])
PARTMAP_ARROW = pa.schema([
    ("grp", pa.string()), ("base_id", pa.int64()), ("n_salts", pa.int64()),
])
MANIFEST_ARROW = pa.schema([
    ("part_id", pa.int64()), ("n_rows", pa.int64()), ("raw_bytes", pa.int64()),
    ("enc_bytes", pa.int64()), ("codecs", pa.string()),
    ("content_sha256", pa.string()), ("wall_s", pa.float64()),
    ("status", pa.string()), ("error", pa.string()), ("run_id", pa.string()),
    ("gen", pa.int64()), ("kind", pa.string()), ("batch_id", pa.string()),
    ("origin", pa.string()), ("msg", pa.string()),
])

def table_spec(df: DataFrame) -> list[tuple[str, str]]:
    """(name, ddl) per column; rejects unsupported types up front."""
    spec = []
    for f in df.schema.fields:
        ddl = f.dataType.simpleString()
        try:
            coltypes.of(ddl)
        except ValueError:
            raise ValueError(
                f"column {f.name!r} has unsupported type {ddl!r}; supported: "
                f"scalars {coltypes.SCALARS} plus arbitrary "
                "struct<...>/array<...>/map<...> trees over them"
            ) from None
        spec.append((f.name, ddl))
    return spec


# ------------------------------------------------------------- J1 encode ----


def _group_sizes(keys: np.ndarray) -> np.ndarray:
    arr = np.asarray(keys, dtype=object)
    n = len(arr)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    starts = np.flatnonzero(np.concatenate(([True], arr[1:] != arr[:-1])))
    return np.diff(np.concatenate((starts, [n]))).astype(np.int64)


_KEY_SEP = pa.scalar("\x00", pa.large_utf8())
_KEY_NULL = "\x01\x02"  # no escaped value contains it


def _key_ids(cols: list[pa.Array]) -> np.ndarray:
    r"""One id per row of the (key...) columns, as an object array of
    str.  Injective: each value is cast to a string and escaped (``\x01``
    becomes ``\x01\x01``, NUL becomes ``\x01\x00``), a null becomes
    ``\x01\x02``, and the parts join with a NUL, so an unescaped NUL
    only ever separates parts and two rows share an id only when their
    key tuples are equal.  Both sides pass the columns in their storage
    form: encode through ``coltypes.storage``, decode as the blocks
    decode."""
    parts = []
    for a in cols:
        a = strings.as_large_utf8(a)
        a = pc.replace_substring(a, "\x01", "\x01\x01")
        parts.append(pc.replace_substring(a, "\x00", "\x01\x00"))
    ids = pc.binary_join_element_wise(
        *parts, _KEY_SEP, null_handling="replace", null_replacement=_KEY_NULL
    )
    return ids.to_numpy(zero_copy_only=False)


def _group_starts(gsizes: np.ndarray) -> np.ndarray:
    return (np.cumsum(gsizes) - gsizes).astype(np.int64)


def _encode_content(
    arr: pa.Array,
    gsizes: np.ndarray,
    keyframe_interval: int,
    base_texts: list | None,
    base_versions: np.ndarray | None,
    view: tuple,
) -> tuple[str, bytes]:
    """CHAIN-encode the content column (a LargeStringArray and its
    ``strings.utf8_view``); fall back to whole-column PLAIN only when a
    cheap zstd bound says PLAIN could plausibly win.

    The full PLAIN trial used to run unconditionally — an honest but
    ~2x CPU cost on the dominant column.  The gate compresses a
    contiguous prefix sample (whole chains, so zstd sees the same
    cross-version redundancy) and extrapolates; the full trial runs
    only when the bound lands within 30% of CHAIN's actual size.
    """
    buf = chain_kernel.encode_chain(
        arr, gsizes, keyframe_interval=keyframe_interval,
        base_texts=base_texts, base_versions=base_versions,
    )
    if base_texts is not None and any(t is not None for t in base_texts):
        # a seeded fragment must stay CHAIN: whole-column PLAIN can't
        # continue chains and seeded deltas are near-minimal anyway
        return "chain", buf
    _lengths, data = view
    sample = data[: max(4096, len(data) // 8)]
    if sample:
        est_plain = len(blocks_mod.compress(sample)) / len(sample) * len(data)
    else:
        est_plain = 0.0
    if est_plain < len(buf) * 1.3:
        plain_buf = strings.encode_plain(arr)
        if len(plain_buf) < len(buf):
            return "plain", plain_buf
    return "chain", buf


def _encode_rows(
    cols: dict[str, pa.Array],
    keys: np.ndarray,
    part_id: int,
    frag_id: int,
    spec: list[tuple[str, str]],
    content_col: str | None,
    keyframe_interval: int,
    run_id: str,
    t0: float,
    tails: dict | None = None,
    tail_counts: dict | None = None,
) -> list[tuple]:
    """Encode one sorted slice of rows, given as its storage columns
    (``coltypes.storage``) and its (key...) ids (``_key_ids``), into
    per-column block rows.

    tails / tail_counts (from decoded prior fragments) seed chain groups
    that continue an existing (key...) chain — the incremental
    ``push_snapshot`` path (delta.rs:108-125)."""
    out = []
    gsizes = _group_sizes(keys)
    base_texts = None
    base_versions = None
    if tails:
        gkeys = keys[_group_starts(gsizes)]
        base_texts = [tails.get(k) for k in gkeys]
        base_versions = np.array(
            [tail_counts.get(k, 0) if tails.get(k) is not None else 0 for k in gkeys],
            dtype=np.int64,
        )
    for (col, ddl) in spec:
        arr = cols[col]
        ct = coltypes.of(ddl)
        # a string content column takes its route by role: it chains,
        # gets a digest and no zone map (not a range-predicate target)
        content = col == content_col and ct is coltypes.STRING
        view = None
        if content and (len(gsizes) < len(arr) or tails):
            # one view shared by raw-size, the PLAIN-gate sample and the digest
            view = strings.utf8_view(arr)
            raw = int(view[0].sum())
            codec, buf = _encode_content(
                arr, gsizes, keyframe_interval, base_texts, base_versions, view
            )
        else:  # no multi-version chains: the column type's route
            codec, buf, raw = ct.encode(arr, ddl, gsizes, keyframe_interval)
        sha = api.sha256_column_arrow(arr, view) if content else None
        zone = {} if content or ct.zone is None else dict(zip(ct.zone_cols, ct.zone(arr)))
        out.append(
            (part_id, frag_id, col, codec, buf, len(keys), raw, len(buf), sha,
             time.time() - t0, run_id,
             *(zone.get(c) for c in ("zmin", "zmax", "smin", "smax", "bloom")))
        )
    return out


def _slice_encoder(
    spec: list[tuple[str, str]],
    key_cols: tuple[str, ...],
    order_cols: tuple[str, ...],
    content_col: str | None,
    keyframe_interval: int = 32,
    run_id: str = "local",
    fail_inject: str | None = None,
    isolate: bool = True,
):
    """The one encode path every kernel (encode, fragment, append,
    compact) runs: ``encode_slice(tbl, part_id, frag_id, prior)`` turns
    one partition's rows, in any order, into its block rows.  Each
    column converts once to its storage form (``coltypes.storage``); the rows
    sort stably on the key and order columns' storage arrays, nulls
    last, and the slice is encoded; ``prior`` block rows (a partition's
    stored fragments) are replayed first so the slice's chains continue
    theirs.

    ``isolate`` is the failure taxonomy: a slice that raises becomes one
    ``codec="error"`` block row (manifest ``status="failed"``) — "fail
    the partition, not the job" (reference taxonomy error.rs).  Without
    it the error propagates and fails the job."""
    sort_keys = [(c, "ascending") for c in dict.fromkeys([*key_cols, *order_cols])]

    def encode_slice(
        tbl: pa.Table, part_id: int, frag_id: int, prior: pa.Table | None = None
    ) -> pa.Table:
        t0 = time.time()
        try:
            cols = {name: coltypes.storage(tbl.column(name), ddl) for (name, ddl) in spec}
            if fail_inject is not None and fail_inject in cols[key_cols[0]].to_pylist():
                raise RuntimeError(f"injected failure for {fail_inject!r}")
            keys = _key_ids([cols[k] for k in key_cols])
            tails = tail_counts = None
            if prior is not None:
                # only the chains this slice continues replay
                cont = set(keys)
                _rows, tails, tail_counts = _decode_fragments(
                    prior, spec, key_cols, content_col,
                    lambda _frame, keys: np.fromiter(
                        (k in cont for k in keys), dtype=bool, count=len(keys)
                    ),
                )
            # NaN is already null (coltypes.storage): Arrow alone would sort NaN
            # before null, where NaN and null are one missing value here
            order = pc.sort_indices(
                pa.table({c: cols[c] for c, _ in sort_keys}),
                sort_keys=sort_keys, null_placement="at_end",
            )
            rows = _encode_rows(
                {n: a.take(order) for n, a in cols.items()}, keys[order.to_numpy()],
                part_id, frag_id, spec, content_col, keyframe_interval,
                run_id, t0, tails=tails, tail_counts=tail_counts,
            )
        except Exception as exc:  # noqa: BLE001 — isolation is the point
            if not isolate:
                raise
            msg = f"{type(exc).__name__}: {exc}".encode("utf-8", "replace")[:4096]
            rows = [(part_id, frag_id, "*", "error", msg, tbl.num_rows, 0, 0, None,
                     time.time() - t0, run_id, None, None, None, None, None)]
        return pa.Table.from_pylist(
            [dict(zip(BLOCK_ARROW.names, r)) for r in rows], schema=BLOCK_ARROW
        )

    return encode_slice


def make_encode_kernel(
    keyframe_interval: int = 32,
    spec: list[tuple[str, str]] | None = None,
    key_cols: tuple[str, ...] = DEFAULT_KEY_COLS,
    order_cols: tuple[str, ...] = DEFAULT_ORDER_COLS,
    content_col: str | None = DEFAULT_CONTENT_COL,
    run_id: str = "local",
    fail_inject: str | None = None,
):
    """groupBy(part_id).applyInArrow kernel: one whole partition -> its
    block rows (fragment 0)."""
    encode_slice = _slice_encoder(
        spec or DEFAULT_SPEC, key_cols, order_cols, content_col,
        keyframe_interval, run_id, fail_inject,
    )

    def encode_partition(tbl: pa.Table) -> pa.Table:
        return encode_slice(tbl, tbl.column("part_id")[0].as_py(), 0)

    return encode_partition


def make_fragment_kernel(
    keyframe_interval: int = 32,
    spec: list[tuple[str, str]] | None = None,
    key_cols: tuple[str, ...] = DEFAULT_KEY_COLS,
    order_cols: tuple[str, ...] = DEFAULT_ORDER_COLS,
    content_col: str | None = DEFAULT_CONTENT_COL,
    run_id: str = "local",
    fail_inject: str | None = None,
):
    """mapInArrow kernel for *clustered* mode: encode each input split
    in place (no shuffle).  Each (part_id, split) slice becomes a block
    *fragment*.  Chains crossing split boundaries simply start a new
    keyframe — a bounded ratio cost, zero data movement.
    """
    encode_slice = _slice_encoder(
        spec or DEFAULT_SPEC, key_cols, order_cols, content_col,
        keyframe_interval, run_id, fail_inject,
    )

    def encode_split(batches):
        from pyspark import TaskContext

        frag_id = TaskContext.get().partitionId() if TaskContext.get() else 0
        tables = list(batches)
        if not tables:
            return
        tbl = pa.Table.from_batches(tables)
        pids = tbl.column("part_id").to_numpy()
        for part_id in np.unique(pids):
            sub = tbl.filter(pa.array(pids == part_id))
            yield from encode_slice(sub, int(part_id), frag_id).to_batches()

    return encode_split


# ----------------------------------------------------- schema/manifest IO ----


def _write_table_spec(
    spark: SparkSession,
    out_dir: str,
    spec: list[tuple[str, str]],
    key_cols: tuple[str, ...],
    order_cols: tuple[str, ...],
    content_col: str | None,
) -> None:
    rows = [
        (i, name, ddl, name in key_cols, name in order_cols, name == content_col)
        for i, (name, ddl) in enumerate(spec)
    ]
    table = pa.Table.from_pylist(
        [dict(zip(SPEC_ARROW.names, r)) for r in rows], schema=SPEC_ARROW
    )
    _write_small(spark, table, os.path.join(out_dir, "schema"), "part-00000.parquet", True)


def _hadoop(spark: SparkSession, path: str):
    """(jvm, Hadoop FileSystem, Path) for ``path`` — any scheme the
    session can read."""
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), hpath


def _read_small(spark: SparkSession, path: str, schema: pa.Schema) -> pa.Table:
    """Read a metadata table (spec, partition map, manifest) on the
    driver, launching no Spark job: the session's Hadoop file system
    copies its files to a local temp dir and pyarrow reads them against
    ``schema``.  Columns absent from older files read as null; hidden
    files (``_SUCCESS``, ``.crc``, staged writes) are skipped."""
    jvm, fs, hpath = _hadoop(spark, path)
    if not fs.exists(hpath):
        raise FileNotFoundError(f"no engine table at {path}")
    with tempfile.TemporaryDirectory() as tmp:
        local = os.path.join(tmp, "table")
        fs.copyToLocalFile(False, hpath, jvm.org.apache.hadoop.fs.Path(local), True)
        return ds.dataset(local, schema=schema, format="parquet").to_table()


def _write_small(
    spark: SparkSession, table: pa.Table, path: str, name: str, replace: bool
) -> None:
    """Write a metadata table as the one parquet file ``name`` under
    ``path`` on the driver, launching no Spark job.  ``replace`` drops
    the table's earlier files first; otherwise the file is appended.
    The file is staged under a hidden name and renamed, so readers
    never see it half written."""
    jvm, fs, hpath = _hadoop(spark, path)
    Path = jvm.org.apache.hadoop.fs.Path
    if replace:
        fs.delete(hpath, True)
    fs.mkdirs(hpath)
    staged = Path(hpath, f".{name}.staged")
    with tempfile.TemporaryDirectory() as tmp:
        local = os.path.join(tmp, name)
        pq.write_table(table, local)
        fs.copyFromLocalFile(True, True, Path(local), staged)
    if not fs.rename(staged, Path(hpath, name)):
        raise OSError(f"could not publish {name} under {path}")


def read_table_spec(spark: SparkSession, out_dir: str) -> dict:
    rows = sorted(
        _read_small(spark, os.path.join(out_dir, "schema"), SPEC_ARROW).to_pylist(),
        key=lambda r: r["pos"],
    )
    return {
        "spec": [(r["name"], r["ddl"]) for r in rows],
        "key_cols": tuple(r["name"] for r in rows if r["is_key"]),
        "order_cols": tuple(r["name"] for r in rows if r["is_order"]),
        "content_col": next((r["name"] for r in rows if r["is_content"]), None),
    }


def _read_manifest(spark: SparkSession, out_dir: str) -> pd.DataFrame:
    """Every manifest row, on the driver.  The manifest is metadata:
    one row per partition each run wrote (vacuum trims it to the active
    rows), read without a Spark job."""
    return _read_small(spark, os.path.join(out_dir, "manifest"), MANIFEST_ARROW).to_pandas()


def _active_of(manifest: pd.DataFrame, as_of_gen: int | None = None) -> pd.DataFrame:
    """The manifest's active rows per part_id: the latest "replace"
    generation plus every later "append" generation (incremental batches
    extending that base).  Earlier replace rows and appends that a newer
    replace superseded (compaction) drop out.

    The replace anchor defaults to -1 (gens are time_ns, so always
    greater): a part_id whose ONLY generations are appends — new keys
    hashing into a bucket the base run left empty — has no replace row,
    and a missing anchor must not filter those appends out (the ADVICE
    r02 data-loss scenario).

    as_of_gen is TIME TRAVEL: resolve the table as it stood at that
    manifest generation (gens are commit timestamps in ns) — later
    replaces/appends are invisible, so any historical snapshot stays
    readable until a vacuum reclaims its blocks."""
    m = manifest
    if as_of_gen is not None:
        m = m[m["gen"] <= int(as_of_gen)]
    replace = m["kind"] == "replace"
    # nullable Int64 keeps ns gens exact (float64 would round past 2^53)
    rep_gen = m["gen"].astype("Int64").where(replace)
    last_rep = rep_gen.groupby(m["part_id"]).transform("max").fillna(-1)
    keep = (replace & (m["gen"] == last_rep)) | ((m["kind"] == "append") & (m["gen"] > last_rep))
    return m[keep].reset_index(drop=True)


def _manifest_df(spark: SparkSession, rows: pd.DataFrame) -> DataFrame:
    """Manifest rows already read on the driver, as a DataFrame."""
    return spark.createDataFrame(
        pa.Table.from_pandas(rows, schema=MANIFEST_ARROW, preserve_index=False)
    )


def _manifest_active(spark: SparkSession, manifest_path: str) -> DataFrame:
    """The active manifest rows (``_active_of``) as a DataFrame — the
    manifest head that encode, encode_append and compact return."""
    out_dir = os.path.dirname(manifest_path.rstrip("/"))
    return _manifest_df(spark, _active_of(_read_manifest(spark, out_dir)))


def _write_partition_map(
    spark: SparkSession, out_dir: str, salt_map, base: int, n_small: int
) -> None:
    grp, base_id, n_salts = zip(*[*salt_map, (None, base, n_small)])
    table = pa.table([list(grp), list(base_id), list(n_salts)], schema=PARTMAP_ARROW)
    _write_small(spark, table, os.path.join(out_dir, "partmap"), "part-00000.parquet", True)


def _read_partition_map(spark: SparkSession, out_dir: str):
    """Read the persisted partition map on the driver.

    Headroom bound: the map has one row per SALTED GIANT group (plus a
    sentinel), at most total_rows / target_rows entries — i.e. it is
    partitions-sized, not data-sized.  At 100 TB with sane partition
    sizing (>= 100 MB per partition) that is <= ~10^6 rows of
    (string, long, long) — tens of MB on the driver, same order as
    Spark's own file-listing state.  Pinned by the 10^5-partition
    smoke test (test_partition_count_headroom_100k), not assumed."""
    rows = _read_small(spark, os.path.join(out_dir, "partmap"), PARTMAP_ARROW).to_pylist()
    salt_map = [
        (r["grp"], r["base_id"], r["n_salts"]) for r in rows if r["grp"] is not None
    ]
    salt_map.sort(key=lambda t: t[1])
    sentinel = next(r for r in rows if r["grp"] is None)
    return salt_map, int(sentinel["base_id"]), int(sentinel["n_salts"])


class TableMeta(NamedTuple):
    """One resolution of a table's metadata, made once per operation on
    the driver without a Spark job.  Every metadata decision of the
    operation (failed bases, retried batches, partitions to compact,
    strict reads, which blocks to read) derives from it."""

    info: dict  # read_table_spec: spec, key_cols, order_cols, content_col
    manifest: pd.DataFrame  # _read_manifest: every manifest row
    active: pd.DataFrame  # _active_of(manifest, as_of_gen)


def _resolve(
    spark: SparkSession, out_dir: str, as_of_gen: int | None = None
) -> TableMeta:
    manifest = _read_manifest(spark, out_dir)
    return TableMeta(read_table_spec(spark, out_dir), manifest, _active_of(manifest, as_of_gen))


def _infer_order_cols(cols: list[str]) -> tuple[str, ...]:
    """Rank linearization default: a timestamp-ish column first, commit
    as tie-break — content-hash commit ids alone would scramble chains."""
    order = tuple(c for c in ("ts", "commit") if c in cols)
    return order or tuple(cols[-1:])


def encode(
    spark: SparkSession,
    source: DataFrame | str,
    out_dir: str,
    target_rows: int = DEFAULT_TARGET_ROWS,
    keyframe_interval: int = 32,
    resume: bool = True,
    mode: str = "grouped",
    key_cols: tuple[str, ...] = DEFAULT_KEY_COLS,
    order_cols: tuple[str, ...] | None = None,
    content_col: str | None = "auto",
    origin: str | None = None,
    message: str | None = None,
    _fail_inject: str | None = None,
) -> DataFrame:
    """Run J1; returns the manifest head (latest gen per part_id).

    origin / message are caller-supplied commit metadata recorded on the
    run's manifest rows and surfaced by ``history()`` — the reference's
    ``DeltaSnapshot { timestamp, origin, msg }`` surface
    (/root/reference/deltoid/src/snapshot/full.rs:164-170); the
    timestamp analog is the time-derived ``gen``.

    mode="grouped" (default): one shuffle co-locates each part_id, so
    every key-group chain is delta-encoded whole, and resume works at
    partition granularity.  mode="clustered": zero-shuffle map-side
    encode for inputs already clustered by key_cols — e.g. re-encode
    of previously written Iceberg state; each input split becomes block
    fragments (chains crossing splits restart at a keyframe).  Shuffle
    traffic drops from raw bytes to zero; use for ingest-bandwidth-bound
    clusters.  run_id tagging makes re-runs safe in both modes: decode
    only ever sees one run's fragments per partition.
    """
    df = spark.read.parquet(source) if isinstance(source, str) else source
    spec = table_spec(df)
    cols = [name for name, _ in spec]
    for k in key_cols:
        if k not in cols:
            raise ValueError(f"key column {k!r} not in input schema {cols}")
    if order_cols is None:
        order_cols = _infer_order_cols([c for c in cols if c not in key_cols])
    if content_col == "auto":
        content_col = DEFAULT_CONTENT_COL if DEFAULT_CONTENT_COL in cols else None

    blocks_path = os.path.join(out_dir, "blocks")
    manifest_path = os.path.join(out_dir, "manifest")
    if _exists(spark, os.path.join(out_dir, "schema")):
        stored = read_table_spec(spark, out_dir)
        if stored["spec"] != spec:
            raise ValueError(
                f"out_dir already holds a different table spec "
                f"{stored['spec']}; refusing to mix schemas (got {spec})"
            )
    else:
        _write_table_spec(spark, out_dir, spec, key_cols, order_cols, content_col)

    # the partition map persists so a resume (and any later append run)
    # reuses the ORIGINAL part_id layout instead of re-deriving one
    if _exists(spark, os.path.join(out_dir, "partmap")):
        salt_map, pbase, n_small = _read_partition_map(spark, out_dir)
    else:
        salt_map, pbase, n_small = build_partition_map(
            df.select(*cols), target_rows, key_cols
        )
        _write_partition_map(spark, out_dir, salt_map, pbase, n_small)
    df = apply_partition_map(df.select(*cols), salt_map, pbase, n_small, key_cols)

    if resume and _exists(spark, manifest_path):
        active = _active_of(_read_manifest(spark, out_dir))
        committed = active.loc[
            (active["kind"] == "replace") & (active["status"] == "committed"), "part_id"
        ]
        df = _without_parts(df, committed)

    run_id = uuid.uuid4().hex
    gen = time.time_ns()
    kw = dict(
        keyframe_interval=keyframe_interval, spec=spec,
        key_cols=key_cols, order_cols=order_cols, content_col=content_col,
        run_id=run_id, fail_inject=_fail_inject,
    )
    if mode == "clustered":
        blocks = df.mapInArrow(make_fragment_kernel(**kw), BLOCK_SCHEMA)
    else:
        # applyInArrow, not applyInPandas: the kernel reads the Arrow
        # batch itself (exact nullable ints, exact nested trees)
        blocks = df.groupBy("part_id").applyInArrow(make_encode_kernel(**kw), BLOCK_SCHEMA)
    written = _write_blocks(blocks, blocks_path)

    # manifest rows for THIS run only, from the block metadata its write
    # reported, appended with a new generation — readers resolve each
    # part to its latest gen
    _manifest_rows_for_run(
        spark, out_dir, written, run_id, gen, spec, "replace", origin=origin, message=message
    )
    return _manifest_active(spark, manifest_path)


def vacuum(spark: SparkSession, out_dir: str) -> dict:
    """Reclaim block rows no active manifest entry references.

    Superseded generations (resumed replaces, compacted appends, torn
    runs) leave dead fragments in blocks/.  Vacuum rewrites blocks and
    manifest down to the active committed set and swaps the directories.
    Maintenance operation: requires exclusive access to out_dir (the
    swap is two renames; a concurrent reader could see the gap), exactly
    like table-format vacuums.  The swap goes through the session's
    Hadoop file system, so any scheme the session can read works.
    """
    blocks_path = os.path.join(out_dir, "blocks")
    manifest_path = os.path.join(out_dir, "manifest")
    active = _active_of(_read_manifest(spark, out_dir))
    active = active[active["status"] == "committed"]
    blocks = _read_blocks(spark, blocks_path)
    before = blocks.agg(
        F.count("*").alias("n"), F.sum("enc_bytes").alias("b")
    ).collect()[0]
    # the gen column is the selection's, not a block column
    keep = _active_blocks(spark, out_dir, active=active).drop("gen")
    tmp_blocks = blocks_path + "_vacuum"
    tmp_manifest = manifest_path + "_vacuum"
    # keep the hive run_id layout — a flat rewrite would clash with the
    # partitioned directories later appends create
    keep.write.mode("overwrite").option("compression", "none").partitionBy(
        "run_id"
    ).parquet(tmp_blocks)
    jvm, fs, _ = _hadoop(spark, out_dir)
    Path = jvm.org.apache.hadoop.fs.Path
    fs.mkdirs(Path(tmp_blocks))  # fully-dead state writes nothing
    _write_small(
        spark,
        pa.Table.from_pandas(active, schema=MANIFEST_ARROW, preserve_index=False),
        tmp_manifest, "part-00000.parquet", True,
    )
    after = _read_blocks(spark, tmp_blocks).agg(
        F.count("*").alias("n"), F.sum("enc_bytes").alias("b")
    ).collect()[0]
    for live, tmp in ((blocks_path, tmp_blocks), (manifest_path, tmp_manifest)):
        old = Path(live + "_old")
        if not (fs.rename(Path(live), old) and fs.rename(Path(tmp), Path(live))):
            raise OSError(f"could not swap {tmp} into {live}")
        fs.delete(old, True)
    return {
        "block_rows_before": int(before["n"]),
        "block_rows_after": int(after["n"]),
        "bytes_reclaimed": int((before["b"] or 0) - (after["b"] or 0)),
    }


def _read_blocks(spark: SparkSession, blocks_path: str) -> DataFrame:
    """Typed read of the blocks dir; an all-empty run (partitionBy on an
    empty frame) writes no files at all, which reads as an empty table.

    The explicit BLOCK_SCHEMA is what keeps mixed-version directories
    safe: files written before the zone-map and Bloom columns existed
    read those columns as null (unprunable, never wrongly pruned), and
    a vacuum rewrite keeps the columns for every block.  ``run_id`` is
    the hive partition directory, typed string by the schema rather
    than inferred from the directory names."""
    if _exists(spark, blocks_path):
        return spark.read.schema(BLOCK_SCHEMA).parquet(blocks_path)
    return spark.createDataFrame(BLOCK_ARROW.empty_table())


def _without_parts(df: DataFrame, part_ids) -> DataFrame:
    """``df`` minus the rows of the driver-side ``part_ids``: a broadcast
    anti-join against an Arrow local relation (the resume and batch_id
    skip lists).  An empty list plans away."""
    ids = pa.table({"part_id": pa.array(list(part_ids), pa.int64())})
    return df.join(F.broadcast(df.sparkSession.createDataFrame(ids)), "part_id", "left_anti")


def _write_blocks(blocks: DataFrame, blocks_path: str) -> list:
    """Append ``blocks`` to the blocks dir and return the metadata of
    every block row written: its ids, codec, sizes, digest and time,
    and as ``error`` the payload of an error row (a failed partition's
    error text).

    The write reports them itself: an ``Observation`` collects them as
    the rows stream into the files, so no job reads the new blocks back.
    The observation is the last node before the write, in the write's
    result stage; Spark applies a result task's accumulator updates once
    per partition, so a retried task or stage cannot count a block
    twice (``tests/test_write_commit.py`` checks the plan)."""
    # payloads are already zstd'd — parquet re-compression (snappy) would
    # burn CPU + memory bandwidth on the dominant column for ~0 size win.
    # Files partition by run_id so active-run filters (decode, append,
    # compact) prune whole directories instead of scanning every
    # historical run's blocks.
    seen = Observation()
    meta = F.struct(
        "part_id", "frag_id", "column", "codec", "n_rows", "raw_bytes", "enc_bytes",
        "sha256", "wall_s",
        F.when(F.col("codec") == "error", F.substring("payload", 1, 4096)).alias("error"),
    )
    blocks.observe(seen, F.collect_list(meta).alias("rows")).write.mode("append").option(
        "compression", "none"
    ).partitionBy("run_id").parquet(blocks_path)
    return seen.get["rows"]


def _exists(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` holds at least one data file.

    Driver-side Hadoop FS metadata walk (works for any scheme the
    session can read) — the round-2 version ran a ``limit(1).collect()``
    Spark ACTION per call, several times per job.  Marker files
    (_SUCCESS etc.) don't count: a directory holding only those is not
    readable as parquet, matching the old semantics.
    """
    try:
        _jvm, fs, hpath = _hadoop(spark, path)
        if not fs.exists(hpath):
            return False
        it = fs.listFiles(hpath, True)
        while it.hasNext():
            f = it.next()
            if not f.getPath().getName().startswith(("_", ".")):
                return True
        return False
    except Exception:
        return False


# -------------------------------------------------- incremental append ----


def _manifest_rows_for_run(
    spark: SparkSession, out_dir: str, written: list, run_id: str, gen: int,
    spec: list[tuple[str, str]], kind: str, batch_id: str | None = None,
    origin: str | None = None, message: str | None = None,
) -> None:
    """Aggregate the run's ``written`` block metadata (``_write_blocks``)
    into one manifest row per part_id on the driver, and append them.

    A (part_id, frag_id, column) block counts once.  ``n_rows`` counts
    the first spec column's blocks (or a failed partition's error row),
    ``codecs`` maps each column to its codec (the smallest name when
    fragments differ), and a partition with an error row is ``failed``
    with the greatest error text as its error.  The rows are
    partitions-sized, and the new file lands under the run's own name:
    the manifest is append-only, one file per run."""
    first_col = spec[0][0]
    parts: dict[int, dict] = {}
    for b in {(b["part_id"], b["frag_id"], b["column"]): b for b in written}.values():
        p = parts.setdefault(b["part_id"], {
            "part_id": b["part_id"], "n_rows": 0, "raw_bytes": 0, "enc_bytes": 0,
            "codecs": {c: None for c, _ in spec}, "content_sha256": None,
            "wall_s": None, "status": "committed", "error": None,
        })
        if b["column"] in (first_col, "*"):
            p["n_rows"] += b["n_rows"]
        p["raw_bytes"] += b["raw_bytes"]
        p["enc_bytes"] += b["enc_bytes"]
        if b["column"] in p["codecs"]:
            p["codecs"][b["column"]] = _sql_agg(min, p["codecs"][b["column"]], b["codec"])
        p["content_sha256"] = _sql_agg(max, p["content_sha256"], b["sha256"])
        p["wall_s"] = _sql_agg(max, p["wall_s"], b["wall_s"])
        if b["codec"] == "error":
            p["status"] = "failed"
            text = bytes(b["error"]).decode("utf-8", "replace")
            p["error"] = _sql_agg(max, p["error"], text)
    rows = [
        {**p, "codecs": json.dumps(p["codecs"], separators=(",", ":"), ensure_ascii=False),
         "run_id": run_id, "gen": gen, "kind": kind, "batch_id": batch_id,
         "origin": origin, "msg": message}
        for _, p in sorted(parts.items())
    ]
    table = pa.Table.from_pylist(rows, schema=MANIFEST_ARROW)
    _write_small(
        spark, table, os.path.join(out_dir, "manifest"), f"part-{run_id}.parquet", False
    )


def _sql_agg(f, a, b):
    """``f(a, b)`` (min or max) skipping nulls, as SQL's aggregates do."""
    return b if a is None else a if b is None else f(a, b)


def make_append_kernel(
    spec: list[tuple[str, str]],
    key_cols: tuple[str, ...],
    order_cols: tuple[str, ...],
    content_col: str | None,
    keyframe_interval: int,
    run_id: str,
    fail_inject: str | None = None,
):
    """Cogroup kernel: (new rows, existing active blocks) per part_id.

    Decodes the partition's existing fragments executor-side to recover
    each chain's tail text and version count, then encodes the new rows
    as a continuation fragment whose chain groups delta against those
    tails (reference ``push_snapshot``, delta.rs:108-125).
    """
    encode_slice = _slice_encoder(
        spec, key_cols, order_cols, content_col, keyframe_interval, run_id,
        fail_inject,
    )

    def append_partition(left_t: pa.Table, right_t: pa.Table) -> pa.Table:
        if left_t.num_rows == 0:
            return BLOCK_ARROW.empty_table()
        last = pc.max(right_t.column("frag_id")).as_py()
        return encode_slice(
            left_t, left_t.column("part_id")[0].as_py(),
            0 if last is None else last + 1, prior=right_t,
        )

    return append_partition


def encode_append(
    spark: SparkSession,
    source: DataFrame | str,
    out_dir: str,
    keyframe_interval: int = 32,
    batch_id: str | None = None,
    origin: str | None = None,
    message: str | None = None,
    _fail_inject: str | None = None,
) -> DataFrame:
    """Incrementally encode a new batch into existing state (A18).

    origin / message: commit metadata on the manifest rows (see
    ``encode``), shown by ``history()``.

    New rows join their partitions via the persisted partition map;
    each touched partition's existing blocks cogroup with the new rows
    so chains EXTEND (delta against the stored tail) instead of
    restarting at keyframes.  Output is a new fragment per partition
    under a fresh run_id + manifest generation of kind="append".

    batch_id makes retries idempotent (ADVICE r02): the id is recorded
    on the manifest rows, and a re-run of the same batch skips every
    partition that already committed under that id — so a partially
    failed append (some partitions committed, some failed) can simply
    be re-run without duplicating the committed partitions' rows.
    Without a batch_id a re-run appends everything again (documented:
    the reference's push_snapshot has the same at-least-once shape).
    """
    df = spark.read.parquet(source) if isinstance(source, str) else source
    info, manifest, active = _resolve(spark, out_dir)
    spec, key_cols = info["spec"], info["key_cols"]
    cols = [name for name, _ in spec]
    got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    want = dict(spec)
    if {k: got.get(k) for k in want} != want:
        raise ValueError(f"append batch schema {got} != stored spec {want}")

    salt_map, pbase, n_small = _read_partition_map(spark, out_dir)
    dfp = apply_partition_map(df.select(*cols), salt_map, pbase, n_small, key_cols)

    if batch_id is not None:
        # every manifest row, not the active ones: a compaction may have
        # folded this batch's committed appends into a newer replace
        already = manifest.loc[
            (manifest["kind"] == "append")
            & (manifest["status"] == "committed")
            & (manifest["batch_id"] == batch_id),
            "part_id",
        ].drop_duplicates()
        dfp = _without_parts(dfp, already)

    # refuse to append onto a FAILED base: the appended generation would
    # be superseded (and its rows stranded) the moment a healing
    # re-encode writes a newer replace generation for the partition.
    # The batch is probed only when the resolved manifest has one.
    failed_base = sorted(
        active.loc[(active["kind"] == "replace") & (active["status"] == "failed"), "part_id"]
        .astype(int).unique().tolist()
    )
    if failed_base:
        failed = (
            dfp.filter(F.col("part_id").isin(failed_base))
            .select("part_id").distinct().limit(20).collect()
        )
        if failed:
            raise ValueError(
                f"partitions {sorted(r['part_id'] for r in failed)} have a failed "
                "base encode; re-run encode() to heal them before appending"
            )
    touched = dfp.select("part_id").distinct()
    existing = _active_blocks(spark, out_dir, active=active).join(
        F.broadcast(touched), "part_id", "left_semi"
    )

    run_id = uuid.uuid4().hex
    gen = time.time_ns()
    kernel = make_append_kernel(
        spec, key_cols, info["order_cols"], info["content_col"],
        keyframe_interval, run_id, fail_inject=_fail_inject,
    )
    new_blocks = (
        dfp.groupBy("part_id")
        .cogroup(existing.groupBy("part_id"))
        .applyInArrow(kernel, BLOCK_SCHEMA)
    )
    written = _write_blocks(new_blocks, os.path.join(out_dir, "blocks"))
    _manifest_rows_for_run(
        spark, out_dir, written, run_id, gen, spec, "append", batch_id,
        origin=origin, message=message,
    )
    return _manifest_active(spark, os.path.join(out_dir, "manifest"))


def make_compact_kernel(
    spec: list[tuple[str, str]],
    key_cols: tuple[str, ...],
    order_cols: tuple[str, ...],
    content_col: str | None,
    run_id: str,
):
    """groupBy(part_id) kernel over one partition's active blocks: replay
    its fragments (``_decode_fragments``) and encode the rows as one
    fresh fragment.  The rows are the Arrow table ``decode`` hands Spark,
    the form an encode kernel reads back, so the payloads are the bytes
    ``make_encode_kernel`` makes of the partition's decoded rows.
    Failures are not isolated: a partition that cannot be replayed or
    re-encoded fails the job."""
    encode_slice = _slice_encoder(
        spec, key_cols, order_cols, content_col, run_id=run_id, isolate=False
    )

    def compact_partition(tbl: pa.Table) -> pa.Table:
        rows, _tails, _counts = _decode_fragments(tbl, spec, key_cols, content_col)
        return encode_slice(rows, tbl.column("part_id")[0].as_py(), 0)

    return compact_partition


def compact(
    spark: SparkSession,
    out_dir: str,
    origin: str | None = None,
    message: str | None = None,
) -> DataFrame:
    """Fold each partition that has accumulated append fragments into a
    single fresh fragment (A17: the codec selector re-runs over the full
    partition, so a drifted column switches codec wholesale — the
    cross-variant full re-encode of gen/enums.rs:544-550).

    One kernel per folded partition (``make_compact_kernel``) replays
    the partition's committed fragments and re-encodes the rows, so only
    the compressed blocks of the multi-fragment partitions cross a
    shuffle; a partition without appends is not read.  A partition that
    fails to decode or encode fails the call, and no manifest generation
    is written: the partition's base and appends stay active.

    Old blocks stay on disk but drop out of the manifest resolution
    (the new kind="replace" generation supersedes them); a vacuum pass
    can reclaim them.
    """
    info, _manifest, active = _resolve(spark, out_dir)
    live = active[active["status"] == "committed"]  # never fold failed rows in
    counts = live["part_id"].value_counts()
    multi = live[live["part_id"].isin(counts.index[counts > 1])]
    if multi.empty:
        return _manifest_df(spark, active)

    run_id = uuid.uuid4().hex
    gen = time.time_ns()
    kernel = make_compact_kernel(
        info["spec"], info["key_cols"], info["order_cols"], info["content_col"], run_id
    )
    blocks = _active_blocks(spark, out_dir, active=multi)
    written = _write_blocks(
        blocks.groupBy("part_id").applyInArrow(kernel, BLOCK_SCHEMA),
        os.path.join(out_dir, "blocks"),
    )
    _manifest_rows_for_run(
        spark, out_dir, written, run_id, gen, info["spec"], "replace",
        origin=origin, message=message or "compact",
    )
    return _manifest_active(spark, os.path.join(out_dir, "manifest"))


# ------------------------------------------------------------- J2 decode ----


def _spark_column(arrays: list[pa.Array], ddl: str) -> pa.Array:
    """One output column from its per-fragment storage arrays."""
    if not arrays:
        return pa.array([], type=coltypes.spark_type(ddl))
    return coltypes.to_spark(arrays[0] if len(arrays) == 1 else pa.concat_arrays(arrays), ddl)


def _fragments(tbl: pa.Table, names: set[str]) -> list[dict[str, bytes]]:
    """One partition's block rows -> each fragment's {column: payload},
    in replay order (gen, then frag_id).  A repeated (gen, frag_id,
    column) row counts once; rows of other columns (error rows
    included) are skipped."""
    cols = tbl.column("column").to_pylist()
    gens = tbl.column("gen").to_pylist() if "gen" in tbl.column_names else [0] * len(cols)
    payloads = tbl.column("payload")
    frags: dict[tuple, dict[str, bytes]] = {}
    for i, (gen, frag, col) in enumerate(zip(gens, tbl.column("frag_id").to_pylist(), cols)):
        bufs = frags.setdefault((gen, frag), {})
        if col in names and col not in bufs:
            bufs[col] = payloads[i].as_py()
    return [frags[k] for k in sorted(frags) if frags[k]]


def _decode_fragments(
    tbl: pa.Table,
    spec: list[tuple[str, str]],
    key_cols: tuple[str, ...],
    content_col: str | None,
    select=None,
) -> tuple[pa.Table, dict, dict]:
    """Decode one partition's block rows fragment by fragment, threading
    chain tails: a fragment appended by a later run (higher gen) may
    seed its chain groups from earlier fragments' last versions.

    ``select(frame, keys)`` chooses rows before any content is
    replayed.  It gets the non-content columns of every fragment as
    storage arrays (``api.decode_block``), concatenated in replay order
    (version order per key), and their (key...) ids (``_key_ids``; None
    when the key columns were not decoded), and returns a boolean mask
    over those rows.  The content chains then replay only for keys that
    hold a selected row — in every fragment, because a later fragment's
    group may seed from an earlier one's tail — and only the selected
    rows are returned.  ``None`` selects every row.

    Returns (rows, tails, tail_counts): the rows as the Arrow table
    Spark reads (``coltypes.to_spark``), and the threaded chain state, so an
    append can seed its chains from it directly; ``tails`` holds the
    replayed keys, ``tail_counts`` every key.
    """
    names = [n for n, _ in spec]
    frags = []
    for bufs in _fragments(tbl, set(names)):
        cols = {n: api.decode_block(bufs[n]) for n in names if n != content_col}
        keys = None  # (key...) ids: chain groups and version/key selection
        if (content_col is not None or select is not None) and all(k in cols for k in key_cols):
            keys = _key_ids([cols[k] for k in key_cols])
        frags.append((bufs, cols, keys))

    keep = need = None
    if select is not None and frags:
        all_keys = None if frags[0][2] is None else np.concatenate([k for _, _, k in frags])
        frame = {c: pa.concat_arrays([f[c] for _, f, _ in frags]) for c in frags[0][1]}
        keep = np.asarray(select(frame, all_keys), dtype=bool)
        del frame  # a copy of every non-content column: free it before the replay
        if content_col is not None:
            need = set(all_keys[keep])
    parts: dict[str, list[pa.Array]] = {n: [] for n in names}
    tails: dict = {}
    tail_counts: dict = {}
    row0 = 0
    for bufs, cols, keys in frags:
        n = len(keys) if keys is not None else max(map(len, cols.values()), default=0)
        m = None if keep is None else keep[row0 : row0 + n]
        row0 += n
        for c, a in cols.items():
            parts[c].append(a if m is None else a.filter(pa.array(m)))
        if content_col is not None:
            gsizes = _group_sizes(keys)
            gkeys = keys[_group_starts(gsizes)]
            gsel = None if need is None else np.fromiter(
                (k in need for k in gkeys), dtype=bool, count=len(gkeys)
            )
            # Python strings are materialized only for the per-group
            # tails (chain seeds); the rows stay one LargeStringArray
            content = _content_rows(
                bufs[content_col], [tails.get(k) for k in gkeys], gsel, gsizes
            )
            # update threaded tails: last version per replayed key group
            # (keys are group-contiguous, so group ends == per-key last rows)
            rsizes, rkeys = (gsizes, gkeys) if gsel is None else (gsizes[gsel], gkeys[gsel])
            if len(rkeys):
                ends = np.cumsum(rsizes) - 1
                tails.update(zip(rkeys, content.take(pa.array(ends)).to_pylist()))
            for k, c in zip(gkeys, gsizes):
                tail_counts[k] = tail_counts.get(k, 0) + int(c)
            if m is not None:
                # every selected row lies in a replayed group; its place
                # among the replayed rows is a running count
                pos = np.cumsum(np.repeat(gsel, gsizes))[m] - 1
                content = content.take(pa.array(pos, type=pa.int64()))
            parts[content_col].append(content)
    rows = pa.Table.from_arrays(
        [_spark_column(parts[n], ddl) for (n, ddl) in spec], names=names
    )
    return rows, tails, tail_counts


def _content_rows(
    buf: bytes, seeds: list, groups: np.ndarray | None, gsizes: np.ndarray
) -> pa.Array:
    """The content rows of the selected chain groups (every group when
    ``groups`` is None) as a LargeStringArray.  A chain block replays
    only those groups; a block of any other codec decodes whole and is
    filtered."""
    codec, meta, payload = blocks_mod.unframe(buf)
    if codec == "chain":
        return chain_kernel.decode_chain_arrow(meta, payload, base_texts=seeds, groups=groups)
    arr = api.decode_block(buf)
    if groups is not None:
        arr = arr.filter(pa.array(np.repeat(groups, gsizes)))
    return arr


def _version_mask(keys: np.ndarray, latest_only: bool, at_version: int | None) -> np.ndarray:
    """Version pruning over rows in replay order (version order per
    key): each key's head (latest_only) or its version ``at_version``
    (0-based).  A stable sort on the key ids (``_key_ids``, injective,
    compared as exact Python strings) makes each key's versions
    contiguous."""
    if len(keys) == 0:
        return np.zeros(0, dtype=bool)
    order = np.argsort(keys, kind="stable")
    sk = keys[order]
    starts = np.concatenate(([True], sk[1:] != sk[:-1]))
    if latest_only:
        sel = np.concatenate((starts[1:], [True]))  # last row of each key
    else:
        run_starts = np.flatnonzero(starts)
        run_lens = np.diff(np.concatenate((run_starts, [len(sk)])))
        pos = np.arange(len(sk)) - np.repeat(run_starts, run_lens)
        sel = pos == int(at_version)
    mask = np.zeros(len(keys), dtype=bool)
    mask[order[sel]] = True
    return mask


def _pred_mask(a: pa.Array, p: _Pred) -> np.ndarray:
    """The rows of decoded storage array ``a`` that can meet ``p``, in the
    zone-map key space of the column's type (``where_keys``).  A superset
    of the rows the residual filter keeps: nulls never meet a predicate;
    float NaNs always pass, left to the residual filter."""
    keys, always = p.ct.where_keys(a)
    m = pc.is_valid(keys)
    if p.points is not None:
        vals = pa.array([k for _, k in p.points], type=keys.type)
        m = pc.and_(m, pc.is_in(keys, value_set=vals))
    if p.lo is not None:
        m = pc.and_(m, pc.greater_equal(keys, pa.scalar(p.lo[1], keys.type)))
    if p.hi is not None:
        m = pc.and_(m, pc.less_equal(keys, pa.scalar(p.hi[1], keys.type)))
    m = m.fill_null(False).to_numpy(zero_copy_only=False)
    return m if always is None else m | always


def make_decode_kernel(
    spec: list[tuple[str, str]],
    key_cols: tuple[str, ...] = DEFAULT_KEY_COLS,
    content_col: str | None = DEFAULT_CONTENT_COL,
    out_names: list[str] | None = None,
    latest_only: bool = False,
    at_version: int | None = None,
    on_error: str = "raise",
    preds: list[_Pred] = (),
):
    """groupBy(part_id).applyInArrow decode kernel: one partition's
    block rows -> its rows, as the Arrow table Spark reads.  Version
    selection (``latest_only`` / ``at_version``) and then ``preds``
    (``_pred_mask``, which never drops a row the residual filter keeps)
    pick the rows before any content replays, so only the chains of
    keys holding a picked row replay and only the picked rows cross the
    Python->JVM boundary."""
    names = out_names if out_names is not None else [n for n, _ in spec]
    ddls = dict(spec)
    select = None
    if preds or latest_only or at_version is not None:

        def select(frame: dict[str, pa.Array], keys: np.ndarray | None) -> np.ndarray:
            m = np.ones(len(next(iter(frame.values()))), dtype=bool)
            if latest_only or at_version is not None:
                m = _version_mask(keys, latest_only, at_version)
            for p in preds:
                m &= _pred_mask(frame[p.col], p)
            return m

    def decode_partition(tbl: pa.Table) -> pa.Table:
        if on_error == "skip":
            try:
                return _decode_fragments(tbl, spec, key_cols, content_col, select)[0].select(names)
            except Exception:  # noqa: BLE001 — read-side isolation opt-in
                # corrupt/unreadable partition -> zero rows, job survives
                # (the read-side mirror of encode's failure isolation;
                # run verify()/metrics to see what went missing)
                return pa.Table.from_arrays(
                    [_spark_column([], ddls[n]) for n in names], names=names
                )
        return _decode_fragments(tbl, spec, key_cols, content_col, select)[0].select(names)

    return decode_partition


def _active_blocks(
    spark: SparkSession, out_dir: str, active: pd.DataFrame | None = None
) -> DataFrame:
    """Block rows belonging to active committed manifest entries, with
    the manifest generation attached (fragment replay order).

    ``active`` is the operation's resolved manifest (``TableMeta``),
    possibly narrowed to some partitions; it is resolved here when not
    given.  The run_id directories of dead runs drop out of the scan,
    and the committed (part_id, run_id, gen) rows, an Arrow local
    relation, select the blocks through one broadcast join."""
    if active is None:
        active = _active_of(_read_manifest(spark, out_dir))
    cols = ["part_id", "run_id", "gen"]
    live = active.loc[active["status"] == "committed", cols]
    live_df = spark.createDataFrame(pa.Table.from_pandas(
        live, schema=pa.schema([MANIFEST_ARROW.field(c) for c in cols]), preserve_index=False
    ))
    return _live_run_blocks(spark, out_dir, live).join(
        F.broadcast(live_df), ["part_id", "run_id"]
    )


def _live_run_blocks(spark: SparkSession, out_dir: str, live: pd.DataFrame) -> DataFrame:
    """The blocks scan narrowed to the run_id directories of the ``live``
    (part_id, run_id) fragments."""
    return _read_blocks(spark, os.path.join(out_dir, "blocks")).filter(
        F.col("run_id").isin(sorted(set(live["run_id"])))
    )


def history(spark: SparkSession, out_dir: str) -> DataFrame:
    """The table's commit log: one row per manifest generation (run),
    newest last — the snapshot-history surface (reference
    ``SnapshotCtx::history``, snapshot/mod.rs:11-29; Iceberg-style
    table history over the append-only manifest).  ``gen`` values feed
    ``decode(as_of_gen=...)`` time travel.

    Rows carry the caller-supplied commit metadata (``origin``/``msg``,
    reference snapshot/full.rs:164-170); tables written before that
    metadata existed read as nulls (MANIFEST_ARROW)."""
    m = _manifest_df(spark, _read_manifest(spark, out_dir))
    return (
        m.groupBy("run_id", "gen", "kind", "batch_id", "origin", "msg")
        .agg(
            F.count("*").alias("partitions"),
            F.sum("n_rows").alias("n_rows"),
            F.sum("enc_bytes").alias("enc_bytes"),
            F.sum(F.when(F.col("status") == "failed", 1).otherwise(0)).alias(
                "failed_partitions"
            ),
        )
        .orderBy("gen")
    )


class _Pred(NamedTuple):
    """One where= predicate, parsed once (``_parse_where``).  ``lo`` and
    ``hi`` bound a range, ``points`` is an IN-list; every value is a
    ``(typed, key)`` pair from the column type's ``where_value``."""

    col: str
    ct: coltypes.ColType
    lo: tuple | None
    hi: tuple | None
    points: list[tuple] | None


def _parse_where(where: tuple | list[tuple], spec: list[tuple[str, str]]) -> list[_Pred]:
    """decode's where= (one tuple or a list of them, ANDed) -> predicates.
    ``(col, lo, hi)`` is a range (either bound may be None) and
    ``(col, [v, ...])`` an IN-list.  Each value maps once through the
    column type's ``where_value``.  An equality range on a column with
    Bloom filters (strings) becomes a one-point set, so it prunes
    through them like an IN-list."""
    ddls = dict(spec)
    preds = []
    for w in ([where] if isinstance(where, tuple) else list(where)):
        if len(w) == 2:  # (col, [v1, v2, ...]) — IN-list point probes
            col, vals = w
            if not isinstance(vals, (list, tuple, set, frozenset)) or not vals:
                raise ValueError("IN-list where needs (col, non-empty list of values)")
            if any(v is None for v in vals):
                raise ValueError("IN-list where values must be non-null")
            lo = hi = None
        else:
            col, lo, hi = w
            if lo is None and hi is None:
                raise ValueError("where needs at least one of (lo, hi)")
            vals = None
        ddl = ddls.get(col)
        if ddl is None:
            raise ValueError(f"where column {col!r} not in table")
        ct = coltypes.of(ddl)
        if ct.where_value is None:
            raise ValueError(
                f"where supports int/boolean/timestamp/date/float/double/"
                f"string columns; {col!r} is {ddl}"
            )
        try:
            lo, hi = (None if v is None else ct.where_value(v) for v in (lo, hi))
            # deduplicated, and sorted for a deterministic plan/probe order
            points = None if vals is None else sorted({ct.where_value(v) for v in vals})
        except (TypeError, ValueError) as exc:
            raise ValueError(f"where value for {col!r} ({ddl}): {exc}") from None
        if "bloom" in ct.zone_cols and lo is not None and lo == hi:
            points, lo, hi = [lo], None, None
        preds.append(_Pred(col, ct, lo, hi, points))
    return preds


_IN_ZONE_MAX = 64  # per-value zone OR beyond this degrades to one range


def _where_parts(
    blocks: DataFrame, preds: list[_Pred], live: pd.DataFrame | None = None
) -> set[int]:
    """Partition pruning for where=: the part_ids in which EVERY predicate
    has a block that can hold a match, from one metadata-only pass over
    ``blocks`` (no payload is read; ``_where_hits`` is the pass).

    ``live`` (committed (part_id, run_id) fragments) drops the hits of
    superseded fragments that share a live run's directory.

    Headroom: the collected hit list holds one row per fragment of a
    predicate column — partitions-sized, so <= ~10^6 rows per column at
    100 TB with >= 100 MB partitions.  Pinned by
    test_partition_count_headroom_100k."""
    hits = _where_hits(blocks, preds).toPandas()
    if live is not None:
        live = live[["part_id", "run_id"]].astype({"part_id": "int64"})
        hits = hits.merge(live, on=["part_id", "run_id"])
    ok = hits.groupby("part_id")[[f"h{i}" for i in range(len(preds))]].any().all(axis=1)
    return {int(p) for p, keep in ok.items() if keep}


def _where_hits(blocks: DataFrame, preds: list[_Pred]) -> DataFrame:
    """One row per predicate-column block: ``part_id``, ``run_id`` and
    one boolean ``h<i>`` per predicate, all JVM expressions.  A block of
    a predicate's column hits when its zone map meets the predicate —
    (zmin, zmax) in key space for numeric and temporal columns, the
    UTF-8-byte-ordered (smin, smax) for strings (see coltypes._string_zone) —
    AND, for string point sets, its Bloom filter admits at least one
    value (``_bloom_hit``).  An IN-list beyond ``_IN_ZONE_MAX`` values
    tests one loose [min, max] zone range instead of a per-value OR: a
    plan-size guard, looser but never wrong.

    Null zone bounds and Bloom filters (older tables, all-null
    fragments, truncation-dropped string extremes, low-cardinality
    columns), and columns ``blocks`` lacks, count as possible matches:
    pruning is only ever an optimization, and the residual row filter
    after decode keeps exact semantics."""
    have = set(blocks.columns)

    def meets(mn: str, mx: str, lo, hi):
        # each bound checks null independently: a one-sided zone (e.g.
        # a truncation-dropped smax) still prunes on its recorded side
        ok = F.lit(True)
        if mn not in have:
            return ok
        if hi is not None:
            ok = ok & (F.col(mn).isNull() | (F.col(mn) <= F.lit(hi)))
        if lo is not None:
            ok = ok & (F.col(mx).isNull() | (F.col(mx) >= F.lit(lo)))
        return ok

    hit_cols = []
    for i, p in enumerate(preds):
        mn, mx = p.ct.zone_cols[:2]
        if p.points is None:
            lo, hi = (None if b is None else b[1] for b in (p.lo, p.hi))
            hit = meets(mn, mx, lo, hi)
        else:
            keys = [k for _, k in p.points]
            if len(keys) > _IN_ZONE_MAX:
                hit = meets(mn, mx, min(keys), max(keys))
            else:
                hit = F.lit(False)
                for k in keys:
                    hit = hit | meets(mn, mx, k, k)
            if "bloom" in p.ct.zone_cols and "bloom" in have:
                hit = hit & _bloom_hit(keys)
        hit_cols.append(((F.col("column") == p.col) & hit).alias(f"h{i}"))
    return blocks.filter(F.col("column").isin(sorted({p.col for p in preds}))).select(
        "part_id", "run_id", *hit_cols
    )


def _bloom_hit(values: list[str]):
    """JVM expression over the ``bloom`` column: False only where the
    filter proves every one of ``values`` absent.  The driver hashes the values
    once (``probe_positions``, modulo the largest filter size); each
    block masks a position to its own size, ``pos & (8*length(bloom)-1)``,
    and reads that bit little-endian from its filter bytes.  The
    positions ship as one JSON string literal: a nested ``F.lit`` list
    costs a Py4J call per element.  A null or empty filter proves
    nothing."""
    pos = json.dumps(bloom_kernel.probe_positions(values).tolist())
    bit = (
        "shiftright(CAST(conv(hex(substring(bloom, "
        "shiftright(q & (8 * length(bloom) - 1), 3) + 1, 1)), 16, 10) AS INT), q & 7) & 1 = 1"
    )
    return F.expr(
        "bloom IS NULL OR length(bloom) = 0 OR "
        f"exists(from_json('{pos}', 'array<array<int>>'), ks -> forall(ks, q -> {bit}))"
    )


def decode(
    spark: SparkSession,
    out_dir: str,
    with_part_id: bool = False,
    columns: list[str] | None = None,
    parts: list[int] | None = None,
    latest_only: bool = False,
    at_version: int | None = None,
    strict: bool = False,
    as_of_gen: int | None = None,
    where: tuple | list[tuple] | None = None,
    on_error: str = "raise",
) -> DataFrame:
    """Run J2: reconstruct the original rows from blocks.

    as_of_gen reads the table AS OF an earlier manifest generation
    (time travel over the append-only commit log; see ``history()`` for
    the generations) — later replaces/appends/compactions are
    invisible, and any pre-vacuum snapshot remains readable because
    superseded blocks stay on disk until vacuum reclaims them.

    strict=True raises if any active partition is in the failed state
    instead of silently decoding the committed subset — the read-side
    counterpart of the error-isolation taxonomy (callers that need the
    WHOLE table opt in; audits/partial readers keep the default).

    columns prunes at the BLOCK level: un-requested columns' payloads
    are filtered out before they reach the Python worker, and their
    kernels never run (decoding content still pulls the key columns in
    internally — chain seeding needs group identity — but only the
    requested columns are returned).  parts prunes whole partitions via
    the manifest, the partition-pruning analog.

    where=(col, lo, hi) — or a LIST of such tuples, ANDed — is a range
    predicate on an int-family, boolean, float, double, timestamp, date or
    string column; either bound may be None (open-ended).
    where=(col, [v1, v2, ...]) is the IN-list form — batch point probes
    ("fetch these N commits") — and a string equality range (lo == hi)
    is a one-value IN-list.  Each value maps once through its column
    type's record (``coltypes``).  Before any kernel runs, one
    metadata-only pass over the predicate columns' zone maps (the A13
    Range semantics) and string Bloom filters picks the partitions to
    decode (``_where_hits``).  Each kernel then keeps only the rows that
    can meet every predicate (``_pred_mask``) and replays content chains
    only for their keys.  Spark's residual row filter defines the exact
    semantics, collation and NaN included; a predicate on the content
    column is left to it alone.  Predicate columns are always included
    in the output.  Tables encoded before zone maps or Bloom filters
    existed decode fine — pruning silently degrades to scan-all.

    on_error="skip" is READ-side failure isolation (the decode mirror
    of encode's fail-the-partition-not-the-job taxonomy): a partition
    whose blocks can't be decoded — bit rot, truncated payloads,
    manually damaged files — contributes zero rows instead of failing
    the whole read.  Default stays "raise" (silent data loss must be
    opted into); pair a skip-read with verify()/metrics to see what
    went missing.

    Version pruning (reference ``to_full_snapshots`` prefix semantics /
    the materialized head, snapshot/delta.rs:81-95,137-151):
    latest_only=True emits ONE row per (key...) — the chain head, the
    common "fetch current corpus" read; at_version=k emits each key's
    k-th version (0-based) where it exists.  Version selection runs
    before the where= row filter, and only the requested version per
    key leaves the worker.
    """
    if latest_only and at_version is not None:
        raise ValueError("latest_only and at_version are mutually exclusive")
    if on_error not in ("raise", "skip"):
        raise ValueError("on_error must be 'raise' or 'skip'")
    if at_version is not None and at_version < 0:
        raise ValueError("at_version must be >= 0")
    info, _manifest, active = _resolve(spark, out_dir, as_of_gen)
    spec = info["spec"]
    preds = [] if where is None else _parse_where(where, spec)
    if strict:
        failed = active[active["status"] == "failed"]
        if len(failed):
            raise ValueError(
                f"decode(strict=True): partitions "
                f"{sorted(set(failed['part_id'].astype(int)))[:20]} have failed "
                f"encodes (first error: {failed['error'].iloc[0]!r}); re-run "
                "encode() to heal them or decode without strict"
            )
    if parts is not None:
        active = active[active["part_id"].isin([int(p) for p in parts])]
    version_prune = latest_only or at_version is not None
    if columns is not None:
        unknown = set(columns) - {n for n, _ in spec}
        if unknown:
            raise ValueError(f"unknown columns {sorted(unknown)}")
        internal = set(columns)
        if info["content_col"] in internal or version_prune:
            internal |= set(info["key_cols"])  # chain seeds / version ids
        wcols = {p.col for p in preds}
        internal |= wcols  # the residual filters need their columns
        decode_spec = [(n, d) for n, d in spec if n in internal]
        out_spec = [(n, d) for n, d in spec if n in set(columns) or n in wcols]
    else:
        decode_spec = out_spec = spec
    row_schema = ", ".join(f"{name} {ddl}" for (name, ddl) in out_spec)
    # String zones, Bloom filters and the kernel's string row filter are
    # byte-ordered (UTF-8).  Under any other session default collation
    # (e.g. UTF8_LCASE) the residual filter would keep rows pruning
    # dropped (ADVICE r06), so string pruning is off there; the residual
    # filter alone stays exact.
    string_prune_ok = True
    for _ck in (
        "spark.sql.session.collation.default",  # Spark 4 SQLConf key
        "spark.sql.collation.defaultCollation",
    ):
        try:
            if spark.conf.get(_ck, "UTF8_BINARY") != "UTF8_BINARY":
                string_prune_ok = False
        except Exception:
            pass
    prunable = [p for p in preds if "smin" not in p.ct.zone_cols or string_prune_ok]
    content = info["content_col"] if any(n == info["content_col"] for n, _ in decode_spec) else None
    kernel = make_decode_kernel(
        decode_spec, info["key_cols"], content,
        out_names=[n for n, _ in out_spec],
        latest_only=latest_only, at_version=at_version,
        on_error=on_error,
        # the content column is known only after its replay
        preds=[p for p in prunable if p.col != info["content_col"]],
    )
    if prunable:
        # the surviving partitions narrow the resolved manifest, as
        # parts= does, so the block selection below stays one join
        live = active.loc[active["status"] == "committed", ["part_id", "run_id"]]
        keep = _where_parts(_live_run_blocks(spark, out_dir, live), prunable, live)
        active = active[active["part_id"].isin(keep)]
    blocks = _active_blocks(spark, out_dir, active=active)
    if columns is not None:
        wanted = [n for n, _ in decode_spec]
        blocks = blocks.filter(F.col("column").isin(wanted))

    def _residual(df: DataFrame) -> DataFrame:
        if not preds:
            return df
        # pruning dropped PARTITIONS; exact row semantics come from this
        # residual filter (AND across predicates) over the decoded
        # columns (timestamp/date bounds compare natively)
        cond = F.lit(True)
        for p in preds:
            c, lit = F.col(p.col), p.ct.literal
            if p.points is not None:
                cond = cond & c.isin([lit(v) for v, _ in p.points])
            if p.lo is not None:
                cond = cond & (c >= lit(p.lo[0]))
            if p.hi is not None:
                cond = cond & (c <= lit(p.hi[0]))
        return df.filter(cond)

    # applyInArrow, not applyInPandas: the kernel decodes to Arrow and
    # returns Arrow, so no column becomes pandas or Python objects on the
    # way, and NaN inside (nested) float columns crosses as a VALUE
    # (Spark's own pandas serializer nulls it).
    if with_part_id:

        def kernel_with_part(tbl: pa.Table) -> pa.Table:
            out = kernel(tbl)
            pid = np.full(out.num_rows, tbl.column("part_id")[0].as_py(), dtype=np.int64)
            return out.add_column(0, "part_id", pa.array(pid))

        return _residual(
            blocks.groupBy("part_id").applyInArrow(
                kernel_with_part, f"part_id long, {row_schema}"
            )
        )
    return _residual(blocks.groupBy("part_id").applyInArrow(kernel, row_schema))


# ------------------------------------------------------------- J3 verify ----


def verify(
    spark: SparkSession,
    original: DataFrame,
    decoded: DataFrame,
    key_cols: tuple[str, ...] = ("repo", "path", "commit"),
) -> dict:
    """Digest-parity audit per row (BASELINE.json per-row invariant).

    Joins on key_cols and compares a null-flagged digest over every
    other column; pre-aggregating per key makes duplicated/lost copies
    of a key visible without extra count() actions over each input.
    The per-key aggregate is multiset-exact (ADVICE r02): count plus
    the decimal sums of two independent 60-bit digest halves — an
    order-insensitive fingerprint where {A,B,B} vs {A,A,B} differ,
    unlike the earlier (count, min, max) which collides on those.
    """
    value_cols = [c for c in original.columns if c not in key_cols]
    ddls = {f.name: f.dataType.simpleString() for f in original.schema.fields}

    def canonical(c):
        # map iteration order is not significant — digest sorted entries
        if ddls.get(c, "").startswith("map<"):
            entries = F.transform(
                F.map_entries(F.col(c)),
                lambda e: F.concat_ws("\x02", e["key"], e["value"]),
            )
            return F.array_join(F.sort_array(entries), "\x03")
        return F.col(c).cast("string")

    def prep(df, tag):
        parts = []
        for c in value_cols:
            parts.append(F.col(c).isNull().cast("string"))
            parts.append(F.coalesce(canonical(c), F.lit("")))
        digest = F.sha2(F.concat_ws("\x01", *parts), 256)
        half = lambda pos: F.sum(  # noqa: E731
            F.conv(F.substring(F.col("d"), pos, 15), 16, 10).cast("decimal(38,0)")
        )
        return (
            df.select(*key_cols, digest.alias("d"))
            .groupBy(*key_cols)
            .agg(
                F.count("*").alias(f"n_{tag}"),
                half(1).alias(f"s1_{tag}"),
                half(16).alias(f"s2_{tag}"),
            )
        )

    j = prep(original, "a").join(prep(decoded, "b"), list(key_cols), "full")
    bad = (
        (F.col("n_a") != F.col("n_b"))
        | (F.col("s1_a") != F.col("s1_b"))
        | (F.col("s2_a") != F.col("s2_b"))
    )
    agg = j.agg(
        F.count("*").alias("keys"),
        F.sum(F.when(F.col("n_a").isNull() | F.col("n_b").isNull(), 1).otherwise(0)).alias("missing"),
        F.sum(F.when(bad, 1).otherwise(0)).alias("mismatched"),
        F.sum("n_a").alias("rows_original"),
        F.sum("n_b").alias("rows_decoded"),
    ).collect()[0]
    n_a, n_b = int(agg["rows_original"] or 0), int(agg["rows_decoded"] or 0)
    return {
        "rows": agg["keys"],
        "rows_original": n_a,
        "rows_decoded": n_b,
        "missing": int(agg["missing"] or 0),
        "mismatched": int(agg["mismatched"] or 0),
        "ok": (agg["missing"] or 0) == 0
        and (agg["mismatched"] or 0) == 0
        and n_a == n_b,
    }


# ---------------------------------------------------------------- metrics ----


def metrics_summary(manifest: DataFrame) -> dict:
    row = manifest.agg(
        F.sum("raw_bytes").alias("raw"),
        F.sum("enc_bytes").alias("enc"),
        F.sum("n_rows").alias("rows"),
        F.count("*").alias("partitions"),
        F.sum(F.when(F.col("status") == "failed", 1).otherwise(0)).alias("failed"),
    ).collect()[0]
    raw, enc = int(row["raw"] or 0), int(row["enc"] or 0)
    return {
        "rows": int(row["rows"] or 0),
        "partitions": int(row["partitions"] or 0),
        "failed_partitions": int(row["failed"] or 0),
        "raw_bytes": raw,
        "enc_bytes": enc,
        "ratio": enc / raw if raw else None,
    }
