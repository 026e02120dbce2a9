"""Repository-level fork detection + dedup (code-corpus hygiene).

Source-code corpora are dominated by FORKS: whole repositories that
share most of their files byte-for-byte with another repository.  The
standard pipeline recipe (The Stack, StarCoder data curation) removes
fork near-duplicates at REPO granularity before file-level near-dup
runs — it is dramatically cheaper to drop a forked repo than to
cluster each of its files, and it keeps one canonical copy of every
project.  The reference operates per-document only (its docid is a
per-page digest, spider/common/util/MD5.java:89-113); this module
lifts the same banded-LSH candidate algebra (operators/pairs.py /
minhash_pairs.py) to sets-of-file-digests.

Frozen spec — every step is an engine-portable md5 fold, so the WHOLE
operator (signatures, banding, candidate emission, exact verify) is
replayable in ANSI SQL and hash-verified end-to-end (`repo_fork_pairs`
/ `repo_dedup_actions` entries):

  file digest   : 60-bit md5 prefix of content
                  (functions.text.doc_fingerprint_md5 — the engine-
                  portable analog of the reference's MD5 docid)
  repo file set : DISTINCT digests per repo (path/commit-independent:
                  a renamed or duplicated file is still one feature)
  perm i value  : 60-bit md5 prefix of '<i>:<digest>'   (i = 0..P-1)
  signature     : elementwise min over the repo's digest set
  band key j    : 60-bit md5 prefix of 'b<j>:<s_jr>:...:<s_jr+r-1>'
                  (r = P // B rows per band, j = 0..B-1)
  candidates    : repo pairs (a < b, lexicographic) sharing >= 1 band,
                  emitted ONLY at their first shared band
  verify        : EXACT digest-set Jaccard + containment, integer
                  permille; keep jaccard >= jaccard_permille OR
                  containment >= containment_permille

Scale shape (10^12 files, ~10^8 repos):
  * digest + perm values are map-side whole-stage codegen (md5 of
    short strings; zero Python anywhere in this module);
  * the signature is ONE algebraic aggregation (P min's + a count)
    keyed on repo — map-side combine makes a 10M-file monorepo cost
    one combiner per input partition, never a hot reducer;
  * the band self-join shuffles B slim rows per repo; hot band
    buckets (e.g. the shared signature of all single-boilerplate-file
    repos) spread through operators/skew.salted_join, the routing of
    the file-level band joins;
  * exact verification transports each candidate pair's file-digest
    lists via two joins whose keys — (a_repo) then (b_repo, digest) —
    are unique on the digest side, so a digest shared by thousands of
    repos (empty __init__.py) can NOT explode the join: work is
    sum(|files(a)|) over candidate pairs, not digest-popularity^2.

Default banding 16 perms = 8 bands x 2 rows: detection probability
1-(1-J^2)^8 is ~0.90 at J=0.5, ~0.9996 at J=0.8 — candidates are a
recall sieve; precision comes from the exact verify.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from simhash_text_dedup_spark.functions.text import doc_fingerprint_md5


@dataclass(frozen=True)
class RepoDedupConfig:
    n_perms: int = 16
    n_bands: int = 8                 # rows per band r = n_perms // n_bands
    # exact-verify keep thresholds (integer permille; OR-combined)
    jaccard_permille: int = 500
    containment_permille: int = 900
    # band buckets holding more repos than this are spread across
    # salt_partitions tasks (operators/skew.salted_join)
    band_bucket_cap: int = 1000
    salt_partitions: int = 16
    # connected-components knobs (repo ids are 60-bit md5 of the name)
    cc_max_iter: int = 25
    cc_driver_threshold: int = 2_000_000


def _md5_60(col):
    """60-bit md5-prefix bigint — always >= 0, so signed MIN == the
    spec's unsigned min (the reason this family is md5-based rather
    than splitmix64: Spark-side stays pure codegen AND DuckDB replays
    it exactly; see _dd_md5_60 in __spark_entry__.py)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def repo_file_digests(docs: DataFrame) -> DataFrame:
    """documents(repo, content, ...) -> DISTINCT (repo, digest).

    One exchange on (repo, digest) with map-side partial distinct;
    everything downstream works on this slim two-column set."""
    return (
        docs.select("repo", doc_fingerprint_md5(F.col("content")).alias("digest"))
        .distinct()
    )


def repo_profiles(file_digests: DataFrame) -> DataFrame:
    """(repo, n_files) — distinct-digest count per repo."""
    return file_digests.groupBy("repo").agg(
        F.count(F.lit(1)).alias("n_files")
    )


def repo_signatures(
    file_digests: DataFrame, cfg: RepoDedupConfig = RepoDedupConfig()
) -> DataFrame:
    """(repo, n_files, sig array<bigint>, bands array<bigint>).

    ONE groupBy(repo) with n_perms algebraic min aggregates + a count:
    no explode, no window, map-side combine throughout — a monorepo is
    as cheap per input row as a gist."""
    r = cfg.n_perms // cfg.n_bands
    if r * cfg.n_bands != cfg.n_perms:
        raise ValueError("n_perms must be divisible by n_bands")
    pv = [
        _md5_60(F.concat(F.lit(f"{i}:"), F.col("digest").cast("string")))
        for i in range(cfg.n_perms)
    ]
    aggd = file_digests.groupBy("repo").agg(
        F.count(F.lit(1)).alias("n_files"),
        *[F.min(pv[i]).alias(f"s{i}") for i in range(cfg.n_perms)],
    )
    bands = [
        _md5_60(
            F.concat_ws(
                ":",
                F.lit(f"b{j}"),
                *[F.col(f"s{j * r + k}").cast("string") for k in range(r)],
            )
        )
        for j in range(cfg.n_bands)
    ]
    return aggd.select(
        "repo",
        "n_files",
        F.array(*[F.col(f"s{i}") for i in range(cfg.n_perms)]).alias("sig"),
        F.array(*bands).alias("bands"),
    )


def fork_candidates(
    sigs: DataFrame, cfg: RepoDedupConfig = RepoDedupConfig()
) -> DataFrame:
    """Distinct candidate repo pairs (a_repo < b_repo) sharing >= 1
    band, each pair emitted ONLY at its first shared band — the
    codegen dedup predicate of minhash_candidates (no dropDuplicates
    exchange over the join output), with hot band buckets spread by
    operators/skew.salted_join."""
    from .skew import salted_join

    banded = sigs.select(
        "repo",
        "bands",
        F.posexplode("bands").alias("band_idx", "band_key"),
    ).select(
        "repo",
        "band_idx",
        "band_key",
        F.expr("slice(bands, 1, band_idx)").alias("prefix"),
    ).localCheckpoint(eager=False)

    def _side(p):
        return banded.select(
            "band_idx", "band_key", F.col("repo").alias(f"{p}_repo"),
            F.col("prefix").alias(f"{p}_prefix"),
        )

    earlier_match = F.exists(
        F.zip_with(F.col("a_prefix"), F.col("b_prefix"), lambda x, y: x == y),
        lambda m: m,
    )
    return (
        salted_join(
            _side("a"), _side("b"), ["band_idx", "band_key"], "a_repo",
            cfg.band_bucket_cap, cfg.salt_partitions,
        )
        .filter(F.col("a_repo") < F.col("b_repo"))
        .filter(~earlier_match)
        .select("a_repo", "b_repo")
    )


def fork_pairs(
    file_digests: DataFrame,
    sigs: DataFrame,
    cfg: RepoDedupConfig = RepoDedupConfig(),
) -> DataFrame:
    """Verified fork pairs with EXACT set-overlap statistics:

    (a_repo, b_repo, n_a, n_b, n_common, jaccard_permille,
     containment_permille), kept when jaccard >= cfg.jaccard_permille
    OR containment >= cfg.containment_permille (a subset fork — a
    stripped-down copy — has low Jaccard but containment ~1000).

    Join shape: candidates x a-side digests on a_repo (at most
    |files(a)| rows per pair), then an equi-join on (b_repo, digest)
    where the digest side is UNIQUE per (repo, digest) — popular
    digests cannot explode this (module docstring)."""
    cands = fork_candidates(sigs, cfg)
    prof = repo_profiles(file_digests)
    a_files = file_digests.select(
        F.col("repo").alias("a_repo"), "digest"
    )
    b_files = file_digests.select(
        F.col("repo").alias("b_repo"), "digest"
    )
    inter = (
        cands.join(a_files, "a_repo")
        .join(b_files, ["b_repo", "digest"])
        .groupBy("a_repo", "b_repo")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    out = (
        inter.join(
            prof.select(F.col("repo").alias("a_repo"), F.col("n_files").alias("n_a")),
            "a_repo",
        )
        .join(
            prof.select(F.col("repo").alias("b_repo"), F.col("n_files").alias("n_b")),
            "b_repo",
        )
        .withColumn(
            "jaccard_permille",
            F.expr("1000 * n_common DIV (n_a + n_b - n_common)").cast("bigint"),
        )
        .withColumn(
            "containment_permille",
            F.expr("1000 * n_common DIV least(n_a, n_b)").cast("bigint"),
        )
    )
    return out.filter(
        (F.col("jaccard_permille") >= cfg.jaccard_permille)
        | (F.col("containment_permille") >= cfg.containment_permille)
    ).select(
        "a_repo", "b_repo", "n_a", "n_b", "n_common",
        "jaccard_permille", "containment_permille",
    )


def repo_dedup_actions(
    file_digests: DataFrame,
    pairs: DataFrame,
    cfg: RepoDedupConfig = RepoDedupConfig(),
) -> DataFrame:
    """Keep-one-per-fork-cluster selection:

    (repo, cluster_repo, n_files, action) — fork clusters are connected
    components over the verified pairs (forks chain: A~B, B~C), the
    winner per cluster keeps the repo with the MOST files (the fork
    network's root usually has the superset; deterministic tie-break:
    lexicographically smallest repo name), every other member drops.
    Repos in no fork pair keep themselves (cluster_repo = repo) and
    never enter the clustering — the operators/cluster.py contract.

    cluster_repo is the LEXICOGRAPHICALLY SMALLEST member (a stable,
    engine-portable label — min over the 60-bit md5 id used internally
    by CC would be hash-ordered and meaningless to a reader)."""
    from .cluster import connected_components

    prof = repo_profiles(file_digests)
    names = prof.select("repo", _md5_60(F.col("repo")).alias("rid"))
    edges = (
        pairs.join(names.select(F.col("repo").alias("a_repo"),
                                F.col("rid").alias("a_id")), "a_repo")
        .join(names.select(F.col("repo").alias("b_repo"),
                           F.col("rid").alias("b_id")), "b_repo")
        .select("a_id", "b_id")
        # lineage cut: connected_components consumes the edge DAG twice
        # (strategy probe + chosen strategy)
        .localCheckpoint(eager=False)
    )
    labels = connected_components(
        edges, max_iter=cfg.cc_max_iter,
        driver_threshold=cfg.cc_driver_threshold,
    )
    member = names.join(
        labels.withColumnRenamed("doc_id", "rid"), "rid", "left"
    )
    # readable cluster label: min repo name within the cluster
    clus = (
        member.filter(F.col("cluster_id").isNotNull())
        .groupBy("cluster_id")
        .agg(F.min("repo").alias("cluster_repo"))
    )
    labeled = (
        member.join(clus, "cluster_id", "left")
        .join(prof, "repo")
        .select(
            "repo",
            F.coalesce(F.col("cluster_repo"), F.col("repo")).alias("cluster_repo"),
            "n_files",
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_repo").orderBy(
        F.col("n_files").desc(), F.col("repo").asc()
    )
    return (
        labeled.withColumn("rk", F.row_number().over(w))
        .withColumn(
            "action", F.when(F.col("rk") == 1, F.lit("keep")).otherwise(F.lit("drop"))
        )
        .select("repo", "cluster_repo", "n_files", "action")
    )


def head_snapshot(docs: DataFrame) -> DataFrame:
    """Per-(repo, path) latest-commit selection.

    The input shape carries a commit axis — a crawled code corpus holds
    multiple commits of the same file; training corpora keep the HEAD
    snapshot only (The Stack keeps each repo's default-branch head).

    (repo, path, commit, content, n_commits, digest): ONE algebraic
    max-struct aggregation keyed on (repo, path) — commits order
    lexicographically within a file's history; no corpus-wide window,
    map-side combine absorbs per-file history depth."""
    h = F.max(F.struct("commit", "content")).alias("h")
    return (
        docs.groupBy("repo", "path")
        .agg(h, F.count(F.lit(1)).alias("n_commits"))
        .select(
            "repo",
            "path",
            F.col("h.commit").alias("commit"),
            F.col("h.content").alias("content"),
            "n_commits",
            doc_fingerprint_md5(F.col("h.content")).alias("digest"),
        )
    )


def dedup_repos(
    docs: DataFrame, cfg: RepoDedupConfig = RepoDedupConfig()
) -> DataFrame:
    """End-to-end convenience: documents -> surviving documents (rows of
    repos whose action is keep).  The fork-cluster winner keeps ALL its
    rows; dropped repos contribute nothing (their unique files are the
    accepted cost of repo-granularity dedup, exactly as in The Stack's
    fork removal)."""
    fd = repo_file_digests(docs).localCheckpoint(eager=False)
    sigs = repo_signatures(fd, cfg)
    pairs = fork_pairs(fd, sigs, cfg)
    actions = repo_dedup_actions(fd, pairs, cfg)
    keep = actions.filter(F.col("action") == "keep").select("repo")
    # NOT broadcast: the keep list is O(n_repos) — at 10^8 repos it is
    # gigabytes; a repo-keyed shuffle semi-join is the scale-correct
    # shape (and AQE will still broadcast it when it is actually small)
    return docs.join(keep, "repo", "left_semi")


def repo_context_docs(
    docs: DataFrame,
    *,
    repo_col: str = "repo",
    order_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n<|file_sep|>\n",
    max_files: int = 64,
) -> DataFrame:
    """(repo, n_files_total, n_files, context_text, n_chars):
    repo-level training documents — each repository's files
    concatenated in a deterministic order with a separator token
    (the StarCoder2/DeepSeek-Coder "repo-context" layout: models see
    whole projects, not shuffled lone files).

    Scale shape: the per-repo cap is applied BEFORE the aggregation
    (row_number window, filter, then collect) so a 10^6-file monorepo
    ships max_files rows into its group, not the whole repo; the
    window and the groupBy share the repo hash-partitioning, so the
    operator costs one exchange.  Output rows are repo-sized by
    construction (<= max_files * file size)."""
    from pyspark.sql import Window

    capped = (
        docs.select(
            F.col(repo_col).alias("repo"),
            F.col(order_col).alias("__ord"),
            F.col(text_col).alias("__txt"),
        )
        .withColumn("__rn", F.row_number().over(
            Window.partitionBy("repo").orderBy("__ord")))
        .withColumn("__tot", F.count(F.lit(1)).over(
            Window.partitionBy("repo")))
        .filter(F.col("__rn") <= max_files)
    )
    return (
        capped.groupBy("repo")
        .agg(
            F.max("__tot").cast("bigint").alias("n_files_total"),
            F.count(F.lit(1)).alias("n_files"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__ord", "__txt"))
                    ),
                    lambda s: s["__txt"],
                ),
                sep,
            ).alias("context_text"),
        )
        .withColumn("n_chars", F.length("context_text").cast("bigint"))
    )
