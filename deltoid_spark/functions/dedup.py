"""Deduplication operators: exact, shingle-minhash, MinHash-LSH, SimHash.

All deterministic (hash-based, no RNG at query time) and expressed as
DataFrame ops — including SimHash, whose bit-majority runs as 64
JVM-side conditional sums (zero Python anywhere).  Reference tie-in:
exact/keyed dedup is the engine-side use of the map/set diff semantics
(SURVEY.md A7/A9); everything else is engine-new for the 100 TB
training-data use case.

Scale notes: shingling explodes ~|text| rows per doc — at 100 TB this
runs as a map-side explode feeding a partial (map-side combined)
min-aggregate, so the shuffle carries only (doc_id, k mins), not the
shingles.  LSH bucket pairing shuffles by (band_id, band_hash), which
is uniform by construction (hash values), so no skew handling is
needed.
"""

from __future__ import annotations


import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .hashing import hash60
from .spread import spread

N_MINHASH = 8
N_BANDS = 4  # 2 hashes per band
SHINGLE = 16


def exact_dupes(docs: DataFrame) -> DataFrame:
    """Exact dedup: hash-groupBy on md5(text) -> keeper + copy count."""
    return (
        docs.groupBy(F.md5("text").alias("fp"))
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("keeper"))
        .orderBy("fp")
    )


def char_shingles(docs: DataFrame, width: int = SHINGLE) -> DataFrame:
    """Explode each doc into its character shingles (1-indexed substrings).

    The narrow doc rows spread across cores BEFORE the ~|text|x explode
    (spread.py: no-op when the scan already parallelises) so the
    per-shingle hash work never serialises on an unsplittable input."""
    docs = spread(docs, "doc_id")
    return docs.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.lit(1), F.length("text") - (width - 1)))
        ).alias("i"),
        "text",
    ).select("doc_id", F.expr(f"substring(text, i, {width})").alias("g"))


def minhash_signatures(
    docs: DataFrame, k: int = N_MINHASH, width: int = SHINGLE, portable: bool = True
) -> DataFrame:
    """k-permutation MinHash over character shingles.

    k seeded hashes approximate k independent permutations; the min
    aggregate is map-side combinable so only k values per doc shuffle.
    portable=True uses md5 of a seed-prefixed shingle (reproducible in
    any engine, incl. the DuckDB oracle); portable=False uses seeded
    xxhash64 — cheaper per shingle, pick it on the 100 TB path where no
    cross-engine parity is needed (identical plan either way).
    """
    grams = char_shingles(docs, width)
    if portable:
        # ONE md5 per shingle; the k hashes derive via Kirsch-Mitzenmacher
        # double hashing h_i = (h1 + i*h2) mod M from the digest's two
        # 32-bit halves — 8x cheaper than k separate md5 calls and still
        # reproducible in any engine with md5 + integer arithmetic.
        # h1/h2 are PROJECTED columns (not inlined into the aggregates):
        # subexpression elimination does not reach across aggregate
        # update expressions, so inlining evaluated md5 2k times per
        # shingle — projecting first evaluates it once (measured 3x on
        # the LSH signature stage).
        h1 = F.conv(F.substring(F.md5("g"), 1, 8), 16, 10).cast("long")
        h2 = F.conv(F.substring(F.md5("g"), 9, 8), 16, 10).cast("long")
        hashed = grams.select("doc_id", h1.alias("h1"), h2.alias("h2"))
        aggs = [
            F.min(
                F.pmod(F.col("h1") + F.lit(i) * F.col("h2"), F.lit(2_147_483_647))
            ).alias(f"mh{i}")
            for i in range(k)
        ]
        return hashed.groupBy("doc_id").agg(*aggs)
    aggs = [F.min(F.xxhash64("g", F.lit(i))).alias(f"mh{i}") for i in range(k)]
    return grams.groupBy("doc_id").agg(*aggs)


def lsh_candidate_pairs(
    docs: DataFrame, bands: int = N_BANDS, portable: bool = True
) -> DataFrame:
    """MinHash-LSH: band the signatures, pair within buckets.

    Docs sharing any band bucket become candidate near-dup pairs
    (classic shingle->minhash->band->bucket collision).  Output is the
    deduplicated pair list (a < b).  portable=False switches the
    shingle hashing to seeded xxhash64 (the 100 TB path — ~2x the
    md5 signature throughput, measured in BASELINE.md — for when no
    cross-engine oracle parity is needed; identical plan shape).
    """
    sigs = minhash_signatures(docs, portable=portable)
    per_band = N_MINHASH // bands
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(":", *[f"mh{b * per_band + j}" for j in range(per_band)])
            ).alias("h"),
        )
        for b in range(bands)
    ]
    banded = sigs.select("doc_id", F.explode(F.array(*band_cols)).alias("bh")).select(
        "doc_id", F.col("bh.band").alias("band"), F.col("bh.h").alias("h")
    )
    # ONE groupBy per bucket instead of a bucket self-join: the join
    # formulation re-evaluates the whole shingle->md5->minhash subtree
    # for BOTH sides (Spark does not dedup self-join subtrees) and
    # shuffles banded twice; grouping shuffles it once, computes the
    # signatures once, and emits the identical a<b pair set from each
    # bucket's doc list (pair count per bucket is B^2/2 either way).
    buckets = (
        banded.groupBy("band", "h")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    return (
        buckets.select(F.explode("ids").alias("doc_a"), "ids")
        .select("doc_a", F.explode("ids").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


def jaccard_verify(
    docs: DataFrame, width: int = SHINGLE, bands: int = N_BANDS,
    portable: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard for every LSH candidate pair (the verify
    stage of the classic dedup pipeline: shingle -> minhash -> band ->
    candidate -> EXACT similarity).

    Fully relational: distinct shingle sets self-join on the gram for
    intersection counts; |A ∪ B| = |A| + |B| − |A ∩ B|.  The join is
    bounded by the (already banded) candidate list, never all pairs.
    jaccard is returned as an integer permille for cross-engine
    value-hash exactness.

    Scale note: grams hash to 60-bit ints (md5 prefix) BEFORE the
    distinct and the intersection join, so the two shuffles carry 8
    bytes per gram instead of the raw 16-char shingle (~2x less
    shuffle weight); md5 rather than xxhash64 keeps the DuckDB oracle
    value-exact (both engines apply the identical hash, so counts
    agree even in the astronomically-unlikely collision case).
    """
    pairs = lsh_candidate_pairs(docs, bands, portable=portable)
    gram_hash = hash60("g", portable)
    # persist the distinct hashed gram set: it feeds THREE consumers
    # (the a-side, the b-side and the per-doc sizes) and Spark
    # re-evaluates the whole explode+md5+distinct subtree per consumer
    # otherwise.  MEMORY_AND_DISK: 8 bytes/gram, far cheaper to keep
    # than to hash three times; identical plans share one cache entry
    # across repeated invocations (CacheManager canonicalization).
    from pyspark.storagelevel import StorageLevel

    grams = (
        char_shingles(docs, width)
        .select("doc_id", gram_hash.alias("g"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = grams.select(F.col("doc_id").alias("doc_a"), "g")
    b = grams.select(F.col("doc_id").alias("doc_b"), "g")
    inter = (
        pairs.join(a, "doc_a")
        .join(b, ["doc_b", "g"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        pairs.join(inter, ["doc_a", "doc_b"], "left")
        .na.fill({"inter": 0})
        .join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "inter",
            (F.col("na") + F.col("nb") - F.col("inter")).alias("union_n"),
            F.floor(
                F.col("inter") * 1000 / (F.col("na") + F.col("nb") - F.col("inter"))
            ).cast("long").alias("jaccard_x1000"),
        )
        .orderBy("doc_a", "doc_b")
    )


def connected_components(pairs: DataFrame, max_iter: int = 50) -> DataFrame:
    """Connected components over an undirected pair list (columns
    ``doc_a``/``doc_b``): every node gets the min node id of its
    component as ``cluster_id``.  Works on any candidate-pair frame —
    LSH shingle pairs, embedding near-dup pairs (q27), or a
    user-supplied edge list.

    Algorithm: hash-min label propagation WITH pointer jumping.  Every
    node starts labelled with its own id; each round the label drops to
    the min over (its own label, its neighbours' labels, its label's
    label).  The neighbour step alone converges in O(diameter) rounds;
    the pointer-jump term compresses label chains exponentially, so
    even a path graph converges in O(log n) rounds — both steps only
    ever take mins of in-component node ids, so the fixpoint is exactly
    the min-id component labelling either way.  Raises if ``max_iter``
    rounds don't reach the fixpoint rather than returning
    silently-unmerged labels.

    Scale notes: each round is two shuffle joins (edges x labels on the
    node id, labels x labels on the label) plus a map-side-combinable
    min aggregate; no driver-side data beyond one scalar per round.
    Convergence is detected with a single sum(label) aggregate — labels
    only ever decrease, so the sum is strictly monotone until fixpoint
    (cheaper than a changed-rows anti-join).  ``localCheckpoint``
    truncates the per-round lineage so the plan doesn't grow with the
    iteration count.
    """
    fwd = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    # persist HASH-PARTITIONED on u: every round's edges-x-labels join
    # requires clustering by u, and labels leave their groupBy hash-
    # partitioned by node with the same partition count, so the join
    # reuses both sides' partitioning — one exchange per round removed
    # from the O(log n) iteration
    edges = (
        fwd.union(fwd.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .repartition(F.col("u"))
        .persist()
    )
    labels = (
        edges.select(F.col("u").alias("node")).distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    converged = prev_sum is None  # empty graph
    for _ in range(max_iter):
        if converged:
            break
        prop = edges.join(labels, edges.u == labels.node).select(
            F.col("v").alias("node"), "label"
        )
        # pointer jump: node -> label(label(node)); label values are
        # themselves node ids, so the self-join hits for every row
        jump = (
            labels.alias("a")
            .join(labels.alias("b"), F.col("a.label") == F.col("b.node"))
            .select(F.col("a.node").alias("node"), F.col("b.label").alias("label"))
        )
        labels = (
            labels.union(prop)
            .union(jump)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        if cur_sum == prev_sum:
            converged = True
        prev_sum = cur_sum
    edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(component diameter exceeds max_iter); raise max_iter or use "
            "a large-star/small-star variant for path-shaped graphs"
        )
    sizes = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
    return (
        labels.join(sizes, "label")
        .select(
            F.col("node").alias("doc_id"),
            F.col("label").alias("cluster_id"),
            "cluster_size",
        )
        .orderBy("doc_id")
    )


def dup_clusters(docs: DataFrame, bands: int = N_BANDS, max_iter: int = 50) -> DataFrame:
    """Near-dup clusters: connected components over the LSH
    candidate-pair graph — the final stage of the classic web-scale
    dedup pipeline (pairs tell you *which* docs collide; clusters tell
    you *what to keep*: one canonical doc per component)."""
    return connected_components(lsh_candidate_pairs(docs, bands), max_iter)


def duplicate_text_mass(
    docs: DataFrame, width: int = SHINGLE, portable: bool = True
) -> DataFrame:
    """Exact substring-duplication mass per document: the fraction of a
    doc's character-shingle positions whose shingle also appears in at
    least one OTHER document (the deduplicate-training-data signal of
    Lee et al. 2021 — exact partial overlap, where MinHash only sees
    whole-document similarity).

    Scale notes: shingles hash to 8-byte md5-prefix ints before any
    shuffle; the cross-corpus gram index is one map-side-combinable
    aggregate (gram -> distinct-doc count approximated exactly by
    min/max doc comparison — two longs per gram, never a doc list);
    the join back is gram-hash-uniform so no skew handling is needed.
    """
    gram_hash = hash60("g", portable)
    # persisted: both the gram index aggregate and the join back
    # consume this explode+md5 subtree (see jaccard_verify note)
    from pyspark.storagelevel import StorageLevel

    pos = (
        char_shingles(docs, width)
        .select("doc_id", gram_hash.alias("g"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # a gram is "shared" iff it appears in >= 2 distinct docs; min!=max
    # over doc ids detects that without count(distinct) or a doc list
    shared = (
        pos.groupBy("g")
        .agg(F.min("doc_id").alias("d0"), F.max("doc_id").alias("d1"))
        .select("g", (F.col("d0") != F.col("d1")).alias("multi"), "d0")
    )
    joined = pos.join(shared, "g").select(
        "doc_id",
        # position is duplicated if its gram is multi-doc, OR intra-doc
        # repeats don't count: gram in one doc only => not duplicated
        F.col("multi").cast("int").alias("dup"),
    )
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum("dup").cast("long").alias("n_dup_grams"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_dup_grams",
            F.floor(F.col("n_dup_grams") * 1000 / F.greatest("n_grams", F.lit(1)))
            .cast("long")
            .alias("dup_mass_permille"),
        )
        .orderBy("doc_id")
    )


def dedup_select(docs: DataFrame, bands: int = N_BANDS) -> DataFrame:
    """Canonical-document selection: for every near-dup cluster, keep
    the longest document (min doc_id on ties) — the curation step that
    turns cluster assignments into an actual keep-list.

    One max_by aggregate per cluster (map-side combinable; the struct
    ordering (score, -doc_id) encodes the argmax-with-tie-break), no
    window, no extra shuffle beyond the cluster groupBy.
    """
    clusters = dup_clusters(docs, bands)
    scored = clusters.join(
        docs.select("doc_id", F.length("text").alias("score")), "doc_id"
    )
    return (
        scored.groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.max_by("doc_id", F.struct(F.col("score"), -F.col("doc_id"))).alias(
                "keeper"
            ),
            F.max("score").cast("long").alias("keeper_chars"),
        )
        .orderBy("cluster_id")
    )


def contamination(
    docs: DataFrame, bench: DataFrame, width: int = SHINGLE,
    portable: bool = True,
) -> DataFrame:
    """Benchmark decontamination: flag every document sharing at least
    one character shingle with a held-out benchmark set (the standard
    "remove eval-set overlap from the training corpus" pass), plus the
    overlap size for thresholding.

    Scale notes: both sides reduce to DISTINCT hashed shingles (8-byte
    md5-prefix ints, same shuffle-weight cut as jaccard_verify) before
    the join; the benchmark side of a decontamination run is small by
    construction, so its gram set broadcasts and the corpus side never
    shuffles by gram at all — the expensive explode stays map-side.
    """
    gram_hash = hash60("g", portable)
    doc_grams = (
        char_shingles(docs, width).select("doc_id", gram_hash.alias("g")).distinct()
    )
    bench_grams = (
        char_shingles(bench, width).select(gram_hash.alias("g")).distinct()
    )
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    return (
        docs.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) > 0).cast("int").alias("contaminated"),
        )
        .orderBy("doc_id")
    )


def _token_hash_halves(docs: DataFrame) -> DataFrame:
    """Distinct whitespace tokens per doc with multiplicity, each hashed
    to two 32-bit halves.

    Duplicate tokens collapse BEFORE the hash (natural text repeats
    tokens ~2-3x), so md5 and the 64 vote sums run per DISTINCT
    (doc, token) with an exact count ``c`` — the totals are identical
    because every downstream vote is weighted by ``c``.  When spread()
    repartitions (fewer scan splits than cores) it hash-partitions by
    doc_id, which satisfies the (doc_id, tok) clustering requirement,
    and the dedup groupBy reuses that exchange.  When spread() is a
    no-op (the scan already parallelises), the groupBy shuffles on its
    own.

    h = first 16 hex chars of md5(token) = first 8 digest bytes
    big-endian; hi/lo carry bits 63..32 / 31..0.  conv() on 8 hex chars
    fits a signed long, so everything stays JVM-side.
    """
    return (
        spread(docs, "doc_id")
        .select("doc_id", F.explode(F.split("text", "\\s+")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
        .select(
            "doc_id",
            F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long").alias("hi"),
            F.conv(F.substring(F.md5("tok"), 9, 8), 16, 10).cast("long").alias("lo"),
            "c",
        )
    )


def _vote(b: int):
    """±1 vote for bit b of the 64-bit token hash."""
    src = F.col("hi") if b >= 32 else F.col("lo")
    return (F.shiftrightunsigned(src, b % 32).bitwiseAND(F.lit(1)) * 2 - 1).cast("long")


def simhash(docs: DataFrame) -> DataFrame:
    """SimHash per doc, entirely in JVM expressions (no Python at all):
    explode tokens -> per-doc distinct+count -> md5 -> 64 count-weighted
    conditional sums (map-side combinable; the shuffle carries one row
    of 64 longs per doc) -> sign bits.

    Tokenless docs (empty/whitespace text) get simhash 0, matching the
    pure-python reference.
    """
    votes = _token_hash_halves(docs).groupBy("doc_id").agg(
        *[F.sum(_vote(b) * F.col("c")).alias(f"a{b}") for b in range(64)]
    )
    # bit 63 contributes the sign via Java shiftleft wrap (1L << 63 < 0),
    # matching the reference's int64 wrap
    sh = None
    for b in range(64):
        term = F.when(F.col(f"a{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(
            F.lit(0).cast("long")
        )
        sh = term if sh is None else sh + term
    sigs = votes.select("doc_id", sh.alias("simhash"))
    return (
        docs.select("doc_id")
        .join(sigs, "doc_id", "left")
        .select("doc_id", F.coalesce("simhash", F.lit(0).cast("long")).alias("simhash"))
    )


def simhash_buckets(docs: DataFrame, prefix_bits: int = 16) -> DataFrame:
    """Group docs by SimHash prefix: near-dups collide on high bits."""
    sh = simhash(docs)
    return (
        sh.withColumn("bucket", F.shiftrightunsigned("simhash", 64 - prefix_bits))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper"))
        .filter(F.col("n_docs") > 1)
        .orderBy("bucket")
    )


def strip_boilerplate_lines(
    docs: DataFrame, max_df: int = 2, portable: bool = True
) -> DataFrame:
    """Corpus-wide line-level dedup (RefinedWeb/Lee-et-al. style): drop
    every line that occurs in more than ``max_df`` distinct documents
    (navigation chrome, license headers, boilerplate), reassemble each
    document from its surviving lines in original order.

    Output: (doc_id, n_lines, n_kept, cleaned_md5) — the md5 of the
    reassembled text makes the whole reconstruction value-checkable
    without shipping document bodies through the compare.

    Scale shape: lines are hashed to 60-bit ints BEFORE the
    doc-frequency shuffle (the q26 shuffle-weight cut).  The heavy-
    hitter set (df > max_df) is NOT small by definition — on a web
    corpus with a low max_df it contains every shared license header
    and brace line, billions of entries — so it is removed with a
    SHUFFLE left-anti join on the hash-uniform 60-bit key, never a
    forced broadcast.  The size gating is left to AQE: when runtime
    stats show the set actually is under the broadcast threshold,
    adaptive execution converts the anti join to a broadcast one for
    free; when it isn't, the shuffle plan stands and no driver OOM is
    possible.  Reassembly is one map-side-combinable per-doc aggregate
    (array_sort on (position, line) structs -> join) — no global sort,
    no self-join.
    """
    lines = spread(docs, "doc_id").select(
        "doc_id", F.posexplode(F.split("text", "\n")).alias("ln", "line")
    ).withColumn(
        "lh", hash60("line", portable)
    )
    dfreq = (
        lines.select("doc_id", "lh").distinct().groupBy("lh").agg(
            F.count("*").alias("df")
        )
    )
    bad = dfreq.filter(F.col("df") > max_df).select("lh")
    kept = lines.join(bad, "lh", "left_anti")
    agg = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("ln", "line"))),
                    lambda s: s["line"],
                ),
                "\n",
            )
        ).alias("cleaned_md5"),
    )
    totals = docs.select("doc_id", F.size(F.split("text", "\n")).alias("n_lines"))
    return (
        totals.join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_lines").cast("long").alias("n_lines"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("cleaned_md5", F.md5(F.lit(""))).alias("cleaned_md5"),
        )
        .orderBy("doc_id")
    )
