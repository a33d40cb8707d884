"""Skew-aware deterministic partition assignment.

north_rule: "skewed giant repos are salted and range-partitioned
explicitly".  A giant repo (rows above the per-partition target) is
split into ``ceil(rows / target)`` salt buckets keyed by
``xxhash64(path)`` — salting by *path*, never by commit, so every
``(repo, path)`` commit chain stays whole inside one partition (the
CHAIN codec needs complete chains; cf. SURVEY.md §7 hard-part (c)).
Small repos hash into a shared bucket range.

Partition ids are *content-deterministic* (derived from repo names and
row counts, not from cluster size or scheduling), so a resumed run
reproduces the identical partition -> rows mapping — the analog of the
reference's snapshot-head determinism
(/root/reference/deltoid/src/snapshot/delta.rs:89-95).

Scale note (100 TB / 10^12 files): the per-repo count aggregate is one
map-side-combined shuffle over (repo) — output rows == number of
repos.  Only repos *above threshold* are collected to the driver
(bounded: at most total_rows/target of them); everything else flows
through a broadcast-joined map, so no driver-side iteration over data.
The map is handed to Spark as an Arrow table, which plans as a local
relation (empty or not): no Python job builds it.  A map built from a
Python list (or an empty pandas frame) would plan as an RDD scan and
run a plain Python-RDD job on every encode and append.
"""

from __future__ import annotations

import math

import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

DEFAULT_TARGET_ROWS = 20_000


def assign_partitions(
    df: DataFrame,
    target_rows: int = DEFAULT_TARGET_ROWS,
    key_cols: tuple[str, ...] = ("repo", "path"),
) -> tuple[DataFrame, int]:
    """Add a deterministic ``part_id`` column; return (df, n_partitions).

    key_cols[0] is the coarse grouping key (repo); a giant group is
    salted by key_cols[1] (path) so chains keyed by the full key tuple
    never split.
    """
    salt_map, base, n_small = build_partition_map(df, target_rows, key_cols)
    out = apply_partition_map(df, salt_map, base, n_small, key_cols)
    return out, base + n_small


def build_partition_map(
    df: DataFrame,
    target_rows: int = DEFAULT_TARGET_ROWS,
    key_cols: tuple[str, ...] = ("repo", "path"),
) -> tuple[list[tuple[str, int, int]], int, int]:
    """Derive (giant salt map, giant base, n_small_buckets) from the data.

    The map is a tiny, persistable artifact: append runs must reuse the
    ORIGINAL map so new rows land in the same partitions as the chains
    they extend (a re-derived map from a different batch would remap
    everything).
    """
    group_col = key_cols[0]
    # one collect: per-group counts, re-aggregated so that each giant
    # keeps its own row and every small group folds into one null-keyed
    # row — giants-sized output, and the total is the sum of all rows
    counts = df.groupBy(group_col).agg(F.count("*").alias("n"))
    rows = (
        counts.groupBy(
            F.when(F.col("n") > target_rows, F.col(group_col)).alias("grp")
        )
        .agg(F.sum("n").alias("n"))
        .collect()
    )
    giants = sorted((r["grp"], int(r["n"])) for r in rows if r["grp"] is not None)
    base = 0
    salt_map: list[tuple[str, int, int]] = []  # group, base_id, n_salts
    for grp, n in giants:  # sorted: deterministic base-id assignment
        n_salts = math.ceil(n / target_rows)
        salt_map.append((grp, base, n_salts))
        base += n_salts
    # how many buckets for the long tail of small groups
    small_total = sum(int(r["n"]) for r in rows if r["grp"] is None)
    n_small = max(1, math.ceil(small_total / target_rows))
    return salt_map, base, n_small


def apply_partition_map(
    df: DataFrame,
    salt_map: list[tuple[str, int, int]],
    base: int,
    n_small: int,
    key_cols: tuple[str, ...] = ("repo", "path"),
) -> DataFrame:
    """Assign part_ids from a (possibly persisted) partition map.

    Groups not in the map — e.g. repos first seen by an append batch —
    hash into the shared small-bucket range, so the map stays valid as
    the table grows (compaction can rebalance later)."""
    group_col, salt_col = key_cols[0], key_cols[1]
    grp, base_id, n_salts = zip(*salt_map) if salt_map else ((), (), ())
    small_rows = df.sparkSession.createDataFrame(
        pa.table({
            group_col: pa.array(grp, pa.string()),
            "base_id": pa.array(base_id, pa.int64()),
            "n_salts": pa.array(n_salts, pa.int64()),
        })
    )
    return (
        df.join(F.broadcast(small_rows), group_col, "left")
        .withColumn(
            "part_id",
            F.when(
                F.col("base_id").isNotNull(),
                F.col("base_id") + F.pmod(F.xxhash64(salt_col), F.col("n_salts")),
            ).otherwise(F.lit(base) + F.pmod(F.xxhash64(group_col), F.lit(n_small))),
        )
        .drop("base_id", "n_salts")
    )
