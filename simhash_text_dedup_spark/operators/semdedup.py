"""SemDeDup — semantic deduplication over an embedding column.

The published recipe (Abbas et al. 2023, "SemDeDup: Data-efficient
learning at web-scale through semantic deduplication"): cluster the
corpus embeddings with k-means, then WITHIN each cluster mark groups of
examples whose pairwise cosine similarity exceeds a threshold and keep
one representative per group — the member with the LOWEST similarity to
its cluster centroid (keeping the least-prototypical copy preserves the
most diversity).

This implementation uses the screening variant of the within-cluster
rule (pairwise dominance, no chaining): a vector is `delete` iff some
OTHER member of its cluster is ≥ `threshold` cosine-similar AND ranks
ahead of it in keep-priority (lower centroid similarity; ties toward
the lower vec_id).  The rule is a pure pairwise predicate, so it is
expressible as one self-join + semi-join — no sequential pass, no
driver loop — and is deterministic for a fixed centroid set.

Spark plan shape (the 100-TB consideration):
  * clustering reuses the IVF machinery (operators/similarity.py):
    spherical k-means on a deterministic driver sample, assignment in
    one Arrow pandas-UDF pass — or caller-injected `centroids`
    (the oracle hook: with literal axis-aligned centroids every stage
    downstream of training is SQL-expressible, so the driver oracle
    hash-verifies the PRODUCTION operator end-to-end).
  * the pairwise screen is one grouped Arrow pass keyed on list_id
    (BLAS matmul per cluster, see _dominated_screen): cost follows
    cluster sizes (bounded by n_lists sizing), never |corpus|².  A
    pathologically hot cluster has the same remedy as a hot band
    bucket (operators/pairs.py): raise n_lists so clusters shrink, or
    cap-and-salt the offending list.
  * the centroid table is tiny and broadcast; the only corpus-sized
    exchange is the hash partition on list_id that the self-join needs
    anyway.

Reference anchor: the keep-one-representative-per-duplicate-group
contract mirrors the reference's winner-selection stage
(incload/DeDupReduce.java greedy keep/delete actions) lifted from
fingerprint space to embedding space.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import _cosine, _fit_centroids, _list_assign_udf


def assign_clusters(
    corpus: DataFrame,
    centroids: np.ndarray,
) -> DataFrame:
    """(vec_id, v, list_id, centroid_sim): every vector tagged with its
    nearest centroid (Arrow UDF argmax, ties toward the lower list_id)
    and its exact cosine similarity to that centroid (JVM-side fold, so
    the value the dominance rule compares is engine-portable)."""
    spark = corpus.sparkSession
    cent_rows = [
        (int(j), [float(x) for x in centroids[j]]) for j in range(len(centroids))
    ]
    cent_df = spark.createDataFrame(cent_rows, "list_id int, centroid array<double>")
    assign1 = _list_assign_udf(centroids, 1)
    c = corpus.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("list_id", assign1(F.col("v"))[0])
    # left join, not inner: an inner join pushes an IsNotNull(list_id)
    # filter below the projection, and Catalyst then evaluates the
    # assignment UDF TWICE (once for the filter, once for the project).
    # list_id is an argmax over the centroid table, always present, so
    # left == inner here — and the plan keeps ONE Arrow stage
    # (asserted in test_plans).
    return c.join(F.broadcast(cent_df), "list_id", "left").select(
        "vec_id",
        "v",
        "list_id",
        _cosine(F.col("v"), F.col("centroid")).alias("centroid_sim"),
    )


def _dominated_screen(
    df: DataFrame, group_cols: list, threshold: float
) -> DataFrame:
    """Within-group dominance screen as ONE applyInPandas pass: for each
    group, the pairwise cosine block runs as a BLAS matmul over the
    group's (cap-bounded) vectors instead of materializing |group|^2
    join rows that each pay three interpreted higher-order-function
    folds (guide §4.2 — measured 8x on the axis-centroid fixture:
    the 2000-vector / 8-list screen dropped from ~4.0 s to the Arrow
    pass below).  Rows carry two flags: a row is screened iff is_probe,
    and can dominate iff is_build (cold lists set both; the salted hot
    path probes one salt slice against the replicated build side).

    The keep-priority comparison uses the JVM-computed centroid_sim
    values shipped through Arrow — bit-identical decisions to the join
    formulation.  The pairwise cosine itself is numpy float64 (BLAS
    accumulation order differs from the JVM fold in the last ulp, as
    the DuckDB twin's list_dot_product already does); only the
    >= threshold decision feeds the output, and group sizes are bounded
    by list_size_cap so the matmul block is bounded too."""
    import pandas as pd

    thr = float(threshold)

    def _screen(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pmask = pdf["is_probe"].to_numpy()
        bmask = pdf["is_build"].to_numpy()
        if not pmask.any() or not bmask.any():
            return pd.DataFrame({"vec_id": np.empty(0, dtype=np.int64)})
        V = np.vstack(pdf["v"].to_numpy())
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        csim = pdf["centroid_sim"].to_numpy(dtype=np.float64)
        norms = np.sqrt((V * V).sum(axis=1))
        Vb, ib, cb, nb = V[bmask], ids[bmask], csim[bmask], norms[bmask]
        pidx = np.flatnonzero(pmask)
        out = []
        # block the probe rows so the sims matrix stays ~32 MB even at
        # the list_size_cap bound
        blk_rows = max(1, 4_000_000 // max(len(ib), 1))
        for s in range(0, len(pidx), blk_rows):
            blk = pidx[s : s + blk_rows]
            Vp, ip, cp, npn = V[blk], ids[blk], csim[blk], norms[blk]
            sims = (Vp @ Vb.T) / (npn[:, None] * nb[None, :])
            ahead = (cb[None, :] < cp[:, None]) | (
                (cb[None, :] == cp[:, None]) & (ib[None, :] < ip[:, None])
            )
            dom = (
                (sims >= thr) & ahead & (ib[None, :] != ip[:, None])
            ).any(axis=1)
            out.append(ip[dom])
        return pd.DataFrame(
            {"vec_id": np.concatenate(out) if out else np.empty(0, np.int64)}
        )

    return df.groupBy(*group_cols).applyInPandas(_screen, "vec_id long")


def semdedup(
    corpus: DataFrame,
    *,
    threshold: float = 0.9,
    n_lists: int = 64,
    seed: int = 42,
    sample_mod: int = 1,
    sample_cap: int = 20_000,
    centroids: np.ndarray | None = None,
    list_size_cap: int = 10_000,
    salt_partitions: int = 16,
) -> DataFrame:
    """corpus(vec_id, embedding) -> (vec_id, list_id, action) with
    action in {'keep', 'delete'}.

    delete iff another same-cluster vector is >= threshold
    cosine-similar and has strictly higher keep-priority (lower
    centroid_sim; ties toward the lower vec_id).  Every cluster's
    least-prototypical member of each duplicate group survives.

    `centroids` (n_lists x dim) skips the k-means and pins the cluster
    geometry — the oracle / testing hook, same contract as
    similarity.ivf_topk.

    Hot clusters (> `list_size_cap` members) would serialize their
    |list|^2 cosine screen into one join task; they are routed to a
    salted sub-join instead (the probe side carries a deterministic
    salt, the build side is replicated once per salt value), spreading
    the quadratic block across `salt_partitions` tasks — the same
    histogram and salts as every band join (operators/skew.py).
    Routing is correctness-independent: every cluster is entirely cold
    or entirely hot, and within a hot cluster each (a, b) pair meets in
    exactly one salt."""
    from .similarity import _spread
    from .skew import all_salts, hot_keys, salt_of

    # fan a narrow single-file scan across the cores so the Arrow
    # assignment UDF doesn't run on 1-2 tasks (no-op at cluster scale)
    corpus = _spread(corpus)
    c = corpus.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    cent = (
        np.asarray(centroids, dtype=np.float64)
        if centroids is not None
        else _fit_centroids(c, n_lists, seed, sample_mod, sample_cap)
    )
    # cut lineage once: the assignment (scan + Arrow UDF) feeds both
    # self-join sides and the final action join — without it the UDF
    # stage would execute three times (same trick as ivf_probe)
    assigned = assign_clusters(corpus, cent).localCheckpoint(eager=False)

    # ONE grouped BLAS pass keyed (list_id, salt) screens cold and hot
    # lists together: cold rows take salt 0 and act as both probe and
    # build (the whole list lands in one group); rows of an over-cap
    # ("hot") list probe in a deterministic vec_id-derived salt slice
    # while build replicas cover every salt, so each (probe, build)
    # combination meets exactly once and no single task holds a
    # |hot list|^2 block.  The former cold-screen + hot-screen + union
    # paid the shuffle and the Arrow stage twice.
    hot = hot_keys(assigned, ["list_id"], list_size_cap)
    flagged = assigned.join(
        F.broadcast(hot.withColumn("_hot", F.lit(True))), "list_id", "left"
    )
    probe = flagged.select(
        "vec_id",
        "v",
        "list_id",
        "centroid_sim",
        F.when(F.col("_hot").isNotNull(), salt_of("vec_id", salt_partitions))
        .otherwise(F.lit(0))
        .alias("salt"),
        F.lit(True).alias("is_probe"),
        F.col("_hot").isNull().alias("is_build"),
    )
    build = flagged.filter(F.col("_hot").isNotNull()).select(
        "vec_id",
        "v",
        "list_id",
        "centroid_sim",
        F.explode(all_salts(salt_partitions)).alias("salt"),
        F.lit(False).alias("is_probe"),
        F.lit(True).alias("is_build"),
    )
    dominated = _dominated_screen(
        probe.unionByName(build), ["list_id", "salt"], threshold
    )
    # one left join with a flag (not a semi + anti pair) so the
    # assignment stage — which carries the Arrow UDF pass — is scanned
    # once, not twice
    dom = dominated.distinct().withColumn("_dominated", F.lit(True))
    return assigned.join(dom, "vec_id", "left").select(
        "vec_id",
        "list_id",
        F.when(F.col("_dominated").isNotNull(), F.lit("delete"))
        .otherwise(F.lit("keep"))
        .alias("action"),
    )


def semdedup_survivors(corpus: DataFrame, **kwargs) -> DataFrame:
    """The corpus rows that survive semantic dedup (original schema) —
    the left_semi composition callers feed straight into training-set
    assembly.  Accepts every `semdedup` keyword."""
    actions = semdedup(corpus, **kwargs)
    return corpus.join(
        actions.filter(F.col("action") == "keep").select("vec_id"),
        "vec_id",
        "left_semi",
    )
