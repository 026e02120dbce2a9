"""Candidate generation + exact Hamming verification.

The load-bearing operator (SURVEY.md §2.3 J2).  Reference algorithm
(incload/DeDupMapper.java:169-232, MemTable.java:154-212): permute the
64-bit fingerprint into 4 layouts, bucket by the 16-bit prefix, scan the
bucket, verify popcount(xor) <= 3 on the 48-bit suffix.  "Exact 16-bit
prefix match AND suffix Hamming <= 3" is equivalent to "shares the band
AND whole-fingerprint Hamming <= 3", so we verify on the full 64 bits —
same pair set, simpler plan.

Spark-first design:
  * exact-duplicate groups are collapsed FIRST — the band self-join runs
    over DISTINCT fingerprints only, so identical-fingerprint floods
    (even below the spam threshold) contribute one row, not a quadratic
    bucket.  Group members are re-attached as star edges (rep -> member),
    which yields identical connected components with O(n) edges.
  * band explode is array+explode (4 rows/fp), keys are JVM-side bit ops.
  * the self-join emits each qualifying pair in ONLY its first matching
    band (a whole-stage-codegen predicate over both fingerprints) — no
    post-join dropDuplicates shuffle.
  * residual hot band buckets (> cfg.band_bucket_cap distinct
    fingerprints) are spread by the salted band join of
    operators/skew.py (lossless).  AQE skew-join handles moderate
    imbalance.
  * the incremental round's join (`candidate_pairs`) and the banded
    corpus layout use the same first-match predicate and Hamming
    verify, so every SimHash pair domain is verified one way.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from simhash_text_dedup_spark.config import DedupConfig
from simhash_text_dedup_spark.functions.simhash import band_entries, band_key, hamming_col
from simhash_text_dedup_spark.operators.skew import salted_join


def exact_groups(survivors: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(distinct_fps, exact_edges) from spam_pass survivors.

    survivors must carry fp_rep (min doc_id per fingerprint, produced by
    spam_pass's window — no additional shuffle happens here).
    exact_edges: (a_id=rep, b_id=member, hamming=0, kind='exact').
    """
    distinct_fps = (
        survivors.filter(F.col("doc_id") == F.col("fp_rep"))
        .select("doc_id", "fingerprint")
    )
    exact_edges = (
        survivors.filter(F.col("doc_id") != F.col("fp_rep"))
        .select(
            F.col("fp_rep").alias("a_id"),
            F.col("doc_id").alias("b_id"),
            F.lit(0).alias("hamming"),
            F.lit("exact").alias("kind"),
        )
    )
    return distinct_fps, exact_edges


def expand_pairs(near: DataFrame, survivors: DataFrame) -> DataFrame:
    """Expand rep-level 'near' pairs to DOC-level pairs (a_id < b_id),
    plus within-fingerprint-group all-pairs.

    The reference emits pairs between every pair of documents
    (DeDupMapper probes each row against every bucket member); the
    rep-level representation is equivalent for clustering but the
    reference-exact greedy selection (SelectLogicReducer.java:56-104)
    walks doc-level pairs.  Group sizes are bounded by the spam
    threshold, so the within-group quadratic expansion is capped.
    """
    members = survivors.select(
        F.col("fp_rep").alias("rep"), F.col("doc_id").alias("member")
    )

    # within-group all-pairs (Hamming 0)
    a = members.select("rep", F.col("member").alias("x"))
    b = members.select("rep", F.col("member").alias("y"))
    within = (
        a.join(b, "rep")
        .filter(F.col("x") < F.col("y"))
        .select(
            F.col("x").alias("a_id"),
            F.col("y").alias("b_id"),
            F.lit(0).alias("hamming"),
            F.lit("exact").alias("kind"),
        )
    )

    # rep-level near pairs -> member x member
    exp = (
        near.select(
            F.col("a_id").alias("rep_a"), F.col("b_id").alias("rep_b"),
            "hamming", "kind",
        )
        .join(members.select(F.col("rep").alias("rep_a"), F.col("member").alias("ma")), "rep_a")
        .join(members.select(F.col("rep").alias("rep_b"), F.col("member").alias("mb")), "rep_b")
        .select(
            F.least("ma", "mb").alias("a_id"),
            F.greatest("ma", "mb").alias("b_id"),
            "hamming",
            "kind",
        )
    )
    return within.unionByName(exp)


def banded(
    distinct_fps: DataFrame, cfg: DedupConfig, keep: Sequence[str] = ()
) -> DataFrame:
    """Explode each fingerprint into (band, band_key) rows, carrying
    the `keep` columns along."""
    return distinct_fps.select(
        "doc_id",
        "fingerprint",
        *keep,
        F.explode(band_entries(F.col("fingerprint"), cfg.n_bands, cfg.band_bits)).alias("e"),
    ).select("doc_id", "fingerprint", *keep, "e.band", "e.band_key")


def hot_buckets(banded_df: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Band buckets holding more than band_bucket_cap DISTINCT fingerprints.
    Tiny by construction (it's a histogram tail)."""
    return (
        banded_df.groupBy("band", "band_key")
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .filter(F.col("bucket_size") > cfg.band_bucket_cap)
    )


def first_match(band: Column, cfg: DedupConfig) -> Column:
    """Emit each pair only in its first matching band: for this row's
    `band`, every earlier band j must have differing keys on a_fp and
    b_fp.  Pure bit arithmetic over both fingerprints, so no dedup
    shuffle is needed and hot/cold routing can never double-emit or
    drop a pair."""
    pred = F.lit(True)
    for j in range(cfg.n_bands - 1):
        j_matches = band_key(F.col("a_fp"), j, cfg.n_bands, cfg.band_bits) == band_key(
            F.col("b_fp"), j, cfg.n_bands, cfg.band_bits
        )
        pred = pred & ((band <= F.lit(j)) | ~j_matches)
    return pred


def verify(joined: DataFrame, cfg: DedupConfig, band: Column | None = None) -> DataFrame:
    """Band-join rows (a_fp, b_fp, band) kept when the fingerprints are
    within cfg.hamming_k bits and `band` (default: the `band` column)
    is their first matching band; adds the `hamming` column."""
    band = F.col("band") if band is None else band
    return (
        joined.withColumn("hamming", hamming_col(F.col("a_fp"), F.col("b_fp")))
        .filter(F.col("hamming") <= cfg.hamming_k)
        .filter(first_match(band, cfg))
    )


def _side(b: DataFrame, p: str, meta: dict[str, str] | None = None) -> DataFrame:
    """One side of a band self-join: doc_id/fingerprint as p_id/p_fp,
    each `meta` column renamed to p_<name>."""
    return b.select(
        "band", "band_key",
        F.col("doc_id").alias(f"{p}_id"),
        F.col("fingerprint").alias(f"{p}_fp"),
        *[F.col(c).alias(f"{p}_{n}") for c, n in (meta or {}).items()],
    )


def near_pairs(distinct_fps: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Verified near-duplicate pairs between distinct fingerprints:
    (a_id, b_id, hamming, kind='near'), a_id < b_id, hamming in [1, k].

    The band join routes hot buckets (> cfg.band_bucket_cap distinct
    fingerprints) through operators/skew.salted_join (north rule:
    "salted repartitioning for skewed buckets"), so a bucket's
    quadratic comparison spreads across salt_partitions tasks instead
    of landing on one reducer.  hamming >= 1 because entry queries
    feed non-distinct fingerprints, whose identical pairs are exact
    groups, not near pairs."""
    b = banded(distinct_fps, cfg)
    joined = salted_join(
        _side(b, "a"), _side(b, "b"), ["band", "band_key"], "a_id",
        cfg.band_bucket_cap, cfg.salt_partitions,
    )
    return (
        verify(joined.filter(F.col("a_id") < F.col("b_id")), cfg)
        .filter(F.col("hamming") >= 1)
        .select("a_id", "b_id", "hamming", F.lit("near").alias("kind"))
    )


_ROUND_META = {"is_new": "is_new", "is_loaded": "loaded", "score": "score"}


def candidate_pairs(
    new_side: DataFrame, all_side: DataFrame, cfg: DedupConfig
) -> DataFrame:
    """Incremental candidate generation + Hamming verify (pure; no
    checkpointing).  Both inputs carry (doc_id, fingerprint, is_new,
    is_loaded, score).  Pair domain: new x new emitted once (a < b),
    new x old always kept (direction rule E5, DeDupMapper.java:220-226),
    old x old never compared; each pair emitted only in its first
    matching band.

    Hot buckets come from the corpus side's histogram: its rows spread
    across salt_partitions by b_id, and the (tiny: new rows sharing a
    hot key) new side replicates per salt."""
    keep = list(_ROUND_META)
    joined = salted_join(
        _side(banded(all_side, cfg, keep), "b", _ROUND_META),
        _side(banded(new_side, cfg, keep), "a", _ROUND_META),
        ["band", "band_key"], "b_id", cfg.band_bucket_cap, cfg.salt_partitions,
    )
    domain = (~F.col("b_is_new")) | (F.col("a_id") < F.col("b_id"))
    return verify(joined.filter(domain & (F.col("a_id") != F.col("b_id"))), cfg).select(
        "a_id", "b_id", "hamming",
        "a_is_new", "b_is_new", "a_loaded", "b_loaded",
        "a_score", "b_score",
    )
