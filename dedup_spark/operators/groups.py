"""Exact-sketch group contraction — exact dedup before near-dup.

Files whose (bottom-k distinct) shingle sketches are IDENTICAL are, by the
pipeline's own similarity definition, pairwise duplicates with Jaccard
exactly 1. Collapsing each such group to one representative before
LSH/verify is the file-granularity analog of the reference splitter's
once-new-always-old index probe (/root/reference/writer.go:595-601): the
first occurrence (min file_id) represents the group everywhere downstream.

Why this is THE 100 TB lever: corpora are exact-copy heavy, and a
power-law giant cluster of N exact copies otherwise costs O(N²) verify
pairs and O(N²) CC edges. With contraction the quadratic surface exists
only where the user explicitly asks for the materialized pair list
(``expand_group_edges``); candidate generation, verification, and
clustering all run on group representatives.

Correctness: the group key covers the FULL signature row — shingle
sketch, MinHash vector, and SimHash. (Sketch equality alone does NOT
imply MinHash equality once a file has more than ``max_shingles``
distinct shingles, since MinHash is computed over the full shingle
stream.) With the full-signature key: identical MinHash ⇒ identical band
buckets, so representative-level candidate coverage equals member-level
coverage exactly; jaccard(a,b) = jaccard(rep_A, rep_B) exactly (the
verify metric is a function of the sketch alone); and within-group pairs
genuinely have hamming 0. Group keys are two independent 64-bit hashes
(128 bits total) so key collisions are negligible even at 10^12 files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .lsh import salted_pairs  # the ONE pair-gen ladder in the repo


def group_keys(signatures: DataFrame) -> DataFrame:
    """(file_id, g1, g2): the 128-bit full-signature group key, computed
    PER ROW with no shuffle — the narrow building block shared by
    ``sketch_groups`` and the incremental fold's group-delta state
    (streaming.py), which folds per-batch key aggregates instead of
    re-windowing the cumulative signature table. Files with no shingles
    are excluded (they never participate in matching)."""
    return signatures.where(F.col("n_shingles") > 0).select(
        "file_id",
        F.xxhash64("shingles", "minhash", "simhash").alias("g1"),
        F.xxhash64(F.lit(1), "shingles", "minhash", "simhash").alias("g2"),
    )


def sketch_groups(signatures: DataFrame) -> DataFrame:
    """(file_id, g1, g2, rep, group_size): rep = min file_id among files
    with an identical full signature (sketch + minhash + simhash). Files
    with no shingles are excluded (they never participate in matching)."""
    keyed = group_keys(signatures)
    # window (not groupBy + join-back): ONE scan of the signature frame and
    # ONE exchange on the 128-bit group key
    w = Window.partitionBy("g1", "g2")
    return keyed.select(
        "file_id",
        "g1",
        "g2",
        F.min("file_id").over(w).alias("rep"),
        F.count("*").over(w).alias("group_size"),
    )


def with_groups(signatures: DataFrame) -> DataFrame:
    """Signature rows + (g1, g2, rep, group_size) in ONE wide exchange.

    Fused alternative to ``sketch_groups`` + a join-back: the window runs
    over the full signature rows, so the representative FILTER
    (``file_id = rep``) needs no second exchange of the wide table — the
    pipeline persists (or checkpoints) this frame once and derives
    signatures, groups, and rep_sigs as projections. Zero-shingle files
    get a unique per-file group key (they never participate in matching,
    and a shared empty-signature key would otherwise weld all empty files
    into one bogus group).
    """
    empty = F.col("n_shingles") == 0
    keyed = signatures.withColumn(
        "g1",
        F.when(empty, F.xxhash64(F.lit(-1), "file_id"))
        .otherwise(F.xxhash64("shingles", "minhash", "simhash")),
    ).withColumn(
        "g2",
        F.when(empty, F.xxhash64(F.lit(-2), "file_id"))
        .otherwise(F.xxhash64(F.lit(1), "shingles", "minhash", "simhash")),
    )
    w = Window.partitionBy("g1", "g2")
    return keyed.withColumn("rep", F.min("file_id").over(w)).withColumn(
        "group_size", F.count("*").over(w)
    )


def group_star_pairs(groups: DataFrame) -> DataFrame:
    """Linear (rep, member) spanning edges — all a cluster stage needs to
    connect each group internally."""
    return (
        groups.where(F.col("file_id") != F.col("rep"))
        .select(F.col("rep").alias("src"), F.col("file_id").alias("dst"))
    )


def within_group_pairs(groups: DataFrame, max_b: int = 1024) -> DataFrame:
    """ALL member pairs of every group (jaccard exactly 1) — the quadratic
    pair surface, materialized only for pair-level outputs/audits.

    Routed through the UNCAPPED salted-block ladder (VERDICT r4 #1): the
    audit contract demands the complete pair set, so nothing is dropped,
    but a 10^5-member exact-dup boilerplate group is split into
    ceil(n/max_b)² block-pair tasks instead of one task flattening all
    C(n,2) pairs. No trailing distinct: group keys partition the ids, so
    each pair reaches exactly one bucket and the block scheme emits it
    exactly once."""
    members = groups.where(F.col("group_size") > 1).select(
        "g1", "g2", "file_id"
    )
    return salted_pairs(
        members, max_b, None, key_cols=("g1", "g2"), id_col="file_id",
        dedupe=False,
    ).select(
        "src",
        "dst",
        F.lit(0).alias("hamming"),
        F.lit(1.0).alias("jaccard"),
        F.lit(True).alias("verified"),
    )


def expand_group_edges(edges_rep: DataFrame, groups: DataFrame) -> DataFrame:
    """Representative-level edges → member-level pair list:

    * verified rep pairs fan out to every (member of src-group, member of
      dst-group) combination — same jaccard/hamming by sketch equality;
    * every within-group pair is emitted with jaccard 1;
    * unverified rep pairs pass through unexpanded (diagnostic surface).
    """
    mem = groups.select("rep", "file_id")
    cross = (
        edges_rep.where("verified")
        .join(mem.withColumnsRenamed({"rep": "src", "file_id": "ma"}), "src")
        .join(mem.withColumnsRenamed({"rep": "dst", "file_id": "mb"}), "dst")
        .select(
            F.least("ma", "mb").alias("src"),
            F.greatest("ma", "mb").alias("dst"),
            "hamming",
            "jaccard",
            "verified",
        )
    )
    rejected = edges_rep.where(~F.col("verified")).select(
        "src", "dst", "hamming", "jaccard", "verified"
    )
    return cross.unionByName(within_group_pairs(groups)).unionByName(rejected)
