"""Incremental (new-batch vs existing-corpus) dedup round.

The reference is incremental by construction: each crawl round loads the
new batch's urlid->finger map into the mappers and probes it with every
scanned row (new + already-loaded old), so candidate pairs always
involve at least one NEW document; old x old is never compared
(incload/DeDupMapper.java:70-81,97-248, SURVEY.md §3.1).

Semantics reproduced here:
  * pair domain   = (new x new, emitted once) ∪ (new x live-old)
                    — direction rule E5, DeDupMapper.java:220-226.
                    Every entity participates ONCE, with its CURRENT
                    fingerprint: the mapper overwrites a re-crawled
                    row's finger with newfinger (DeDupMapper.java:
                    147-158 `finger = newfinger`), so the stale base
                    rows of re-crawled entities are anti-joined out of
                    the old side — a new version never pairs with its
                    own previous row.
  * unchanged     : a new version whose fingerprint equals the entity's
                    already-loaded fingerprint -> "unload" list (do not
                    re-index), DeDupMapper.java:147-153 same_finger; it
                    STILL probes for duplicates (the reference writes
                    the row to both streams).
  * spam kill     : within the new batch, DeDupMapper setup path /
                    SpamPageGenerate
  * selection     : cfg.selection='cc' (default): per verified pair,
                    loser = lower score; loser's entity NOT loaded ->
                    delete list, loaded -> modify list (the reference's
                    lf flag drives the split, not batch membership).
                    cfg.selection='greedy': reference-exact greedy scan
                    over the round's pairs, parallel per component
                    (SelectLogicReducer.java:56-104)

Scale shape (operators/pairs.candidate_pairs): one side is the full
corpus fingerprint table (read from the previous round's checkpoint —
parquet/Iceberg snapshot); only band keys of the NEW batch probe it, so
the shuffle is O(|new| + matching buckets of |corpus|), not
O(|corpus|^2).  When the new batch is small it broadcasts
(Catalyst/AQE decides; the reference's in-heap memtable is exactly a
hand-rolled broadcast join, SURVEY §2.3 J1).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simhash_text_dedup_spark.config import DedupConfig
from simhash_text_dedup_spark.operators.cluster import connected_components
from simhash_text_dedup_spark.operators.pairs import candidate_pairs
from simhash_text_dedup_spark.plans.pipeline import (
    Checkpointer,
    fingerprint_stage,
    prepare_documents,
    spread_input,
)


@dataclass
class IncrementalResult:
    new_fingerprints: DataFrame  # doc_id, fingerprint, score, is_new, ...
    unload: DataFrame            # doc_id, entity_id — unchanged re-crawls
    spam_kills: DataFrame        # doc_id, ref_doc_id
    pairs: DataFrame             # a_id, b_id, hamming, a/b_is_new,
    #                              a/b_loaded, a/b_score
    delete_list: DataFrame       # doc_id (losers whose entity isn't loaded)
    modify_list: DataFrame       # doc_id (already-loaded losers)
    clusters: DataFrame          # doc_id, cluster_id (touched subgraph)
    metrics: dict | None = None  # observed_metrics callable (A7 counters)
    # batch MinHash signatures (doc_id, entity_id, sig, bands) when
    # cfg.enable_minhash — append these to the corpus signature table
    # after the round commits, the way new_fingerprints feed the
    # fingerprint base
    new_signatures: DataFrame | None = None


def unload_list(new_fps: DataFrame, base_fps: DataFrame) -> DataFrame:
    """Unchanged re-crawls -> unload (DeDupMapper.java:147-153
    same_finger): a new version whose fingerprint equals its entity's
    already-loaded fingerprint is not re-indexed; it STILL probes for
    duplicates (the reference writes the row to both streams).
    Inputs carry (doc_id, entity_id, fingerprint, ...).
    """
    return (
        new_fps.alias("n")
        .join(
            base_fps.alias("o"),
            (F.col("n.entity_id") == F.col("o.entity_id"))
            & (F.col("n.fingerprint") == F.col("o.fingerprint")),
            "left_semi",
        )
        .select("doc_id", "entity_id")
    )


def loser_lists_cc(pairs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """'cc'-mode loser assignment over verified pairs -> (delete_list,
    modify_list), both distinct (doc_id) frames.

    Per-pair loser = lower score (doc_id tie-break); the loser goes to
    DELETE when its entity is not yet loaded, MODIFY when it is
    (SelectLogicMapper.java:39-44 orientation + SelectLogicReducer's
    split on the lf flag — batch membership does NOT drive the split).
    Parallel rule: any doc that loses at least one pair is a loser —
    matches greedy on cliques, differs on chains (documented delta;
    selection='greedy' is reference-exact).
    """
    loser_id = F.when(
        (F.col("a_score") > F.col("b_score"))
        | ((F.col("a_score") == F.col("b_score")) & (F.col("a_id") < F.col("b_id"))),
        F.struct(F.col("b_id").alias("doc_id"), F.col("b_loaded").alias("loaded")),
    ).otherwise(
        F.struct(F.col("a_id").alias("doc_id"), F.col("a_loaded").alias("loaded"))
    )
    losers = pairs.select(loser_id.alias("l")).select("l.doc_id", "l.loaded")
    delete_list = losers.filter(~F.col("loaded")).select("doc_id").distinct()
    modify_list = losers.filter(F.col("loaded")).select("doc_id").distinct()
    return delete_list, modify_list


def run_incremental(
    spark: SparkSession,
    new_docs: DataFrame,
    base: DataFrame | None,
    cfg: DedupConfig = DedupConfig(),
    checkpoint_dir: str | None = None,
    resume: bool = True,
    banded_corpus_table: str | None = None,
    verify_banded_sync: bool = True,
    base_sigs: DataFrame | None = None,
) -> IncrementalResult:
    """One incremental round.

    new_docs: input_hint table for the new batch (repo, path, commit,
              lang, content [, score]).
    base:     fingerprint table of the already-loaded corpus with columns
              (doc_id, entity_id, fingerprint, score) — typically the
              previous round's `new_fingerprints` checkpoint appended to
              the running corpus table; None for the first round.
    banded_corpus_table: optional name of the SAVED pre-banded bucketed
              corpus (sources/banded_corpus.write_banded_corpus over the
              same rows as `base`).  When set, the round's candidate
              join reads the corpus co-located — zero corpus-side
              shuffle (identical pair set; `base` is still required for
              the unload/loaded bookkeeping, which is cheap).
    verify_banded_sync: guard the banded fast path with a cheap
              row-count comparison between the saved layout and `base`
              (metadata-only parquet counts) — a layout that silently
              drifted from the corpus would produce a WRONG pair set
              (round-3 ADVICE); raises ValueError on mismatch.
    base_sigs: corpus MinHash signature table (doc_id, entity_id, sig,
              bands, score) when cfg.enable_minhash — the previous
              rounds' `new_signatures` appended to a running table.
              None = empty corpus (first round).  The round then unions
              MinHash-verified pairs (kind='minhash') into the pair
              set; SimHash pairs win on overlap (kind priority
              near > minhash, same rule as the batch pipeline).
    """
    ck = Checkpointer(spark, checkpoint_dir, resume)

    new_docs = spread_input(new_docs, spark.sparkContext.defaultParallelism)

    prepared = prepare_documents(new_docs).withColumn(
        "entity_id", F.xxhash64("repo", "path")
    )
    new_fps = ck.through(
        fingerprint_stage(prepared, cfg, keep=["entity_id"]), "new_fingerprints"
    )

    if base is None:
        base = spark.createDataFrame(
            [], "doc_id long, entity_id long, fingerprint long, score double"
        )
    base_fps = base.select(
        "doc_id", "entity_id", "fingerprint", "score",
        F.lit(False).alias("is_new"),
    )

    # --- unchanged re-crawls -> unload (DeDupMapper.java:147-153).
    # Only the caller reads it, so it gets a free counter, not a cut: a
    # lazy local cut still runs its exchanges when it is defined (AQE
    # executes the plan to build the cut's RDD), an extra query
    unload = ck.observe(unload_list(new_fps, base_fps), "unload")

    # --- spam kill within the new batch (unchanged re-crawls still
    # probe — the reference writes same_finger rows to BOTH the unload
    # marker and the dedup stream, DeDupMapper.java:147-166)
    from simhash_text_dedup_spark.operators.spam import spam_tag, split_spam

    # content_sha256 is unused past the spam window (new_side projects
    # it off) — drop it before the exchange (guide §2.3)
    tagged = ck.through(spam_tag(new_fps.drop("content_sha256")), "spam_tagged")
    survivors, kills = split_spam(tagged, cfg.spam_threshold)
    kills = ck.observe(kills, "spam_kills")

    # is_loaded = the entity already exists in the index (reference lf
    # flag); drives the delete-vs-modify split for losers
    loaded = base_fps.select("entity_id").distinct().withColumn(
        "is_loaded", F.lit(True)
    )
    new_side = (
        survivors.join(loaded, "entity_id", "left")
        .select(
            "doc_id", "entity_id", "fingerprint", F.lit(True).alias("is_new"),
            F.coalesce("is_loaded", F.lit(False)).alias("is_loaded"),
            "score",
        )
    )

    if banded_corpus_table is not None:
        # co-located path: the saved pre-banded bucketed corpus is read
        # with no Exchange; stale rows of re-crawled entities are
        # excluded inside via a broadcast anti-join on new_side's
        # entity set (sources/banded_corpus.py)
        from simhash_text_dedup_spark.sources.banded_corpus import (
            assert_banded_sync,
            candidate_pairs_banded,
        )

        if verify_banded_sync:
            assert_banded_sync(spark, banded_corpus_table, base, cfg)
        pairs_df = candidate_pairs_banded(
            spark, new_side, banded_corpus_table, cfg
        )
    else:
        # every entity participates ONCE, with its CURRENT fingerprint:
        # drop re-crawled entities' stale base rows (the reference
        # mapper overwrites finger with newfinger,
        # DeDupMapper.java:156-158), so a new version never pairs with
        # its own previous row (an anti join needs no distinct build
        # side, so no aggregation exchange over the batch)
        base_live = base_fps.join(
            new_fps.select("entity_id"), "entity_id", "left_anti"
        )

        # band join: new (left) vs new ∪ live-old (right); old x old
        # excluded
        all_side = new_side.unionByName(
            base_live.select(
                "doc_id", "entity_id", "fingerprint", "is_new",
                F.lit(True).alias("is_loaded"), "score",
            )
        )
        pairs_df = candidate_pairs(new_side, all_side, cfg)

    new_sigs_out: DataFrame | None = None
    if cfg.enable_minhash:
        # --- MinHash borderline path across the SAME incremental
        # domain (new x new once, new x live-old, old x old never):
        # batch signatures over the spam survivors, corpus signatures
        # from the committed table
        from simhash_text_dedup_spark.operators.minhash_pairs import (
            minhash_signatures,
            minhash_verified_pairs_incremental,
        )

        surviving_prepared = prepared.join(
            survivors.select("doc_id"), "doc_id", "left_semi"
        )
        new_sigs_out = ck.through(
            minhash_signatures(surviving_prepared, cfg, keep=["entity_id"]),
            "minhash_sigs",
        )
        if base_sigs is None:
            base_sigs = spark.createDataFrame(
                [],
                "doc_id long, entity_id long, sig array<bigint>, "
                "bands array<bigint>, score double",
            )
        mh = minhash_verified_pairs_incremental(
            new_sigs_out.join(
                new_side.select("doc_id", "is_loaded", "score"), "doc_id"
            ),
            base_sigs,
            cfg,
        )
        # SimHash pairs win on overlap (kind priority near > minhash,
        # as in the batch pipeline's row_number dedup); the anti-join
        # runs over two small pair sets, not the corpus
        pairs_df = pairs_df.select(
            "*",
            F.lit("near").alias("kind"),
            F.lit(None).cast("double").alias("est_jaccard"),
        )
        mh_only = mh.join(
            pairs_df.select("a_id", "b_id"), ["a_id", "b_id"], "left_anti"
        ).select(
            "a_id", "b_id", F.lit(None).cast("int").alias("hamming"),
            "a_is_new", "b_is_new", "a_loaded", "b_loaded",
            "a_score", "b_score",
            F.lit("minhash").alias("kind"), "est_jaccard",
        )
        pairs_df = pairs_df.withColumn(
            "hamming", F.col("hamming").cast("int")
        ).unionByName(mh_only)
    pairs = ck.through(pairs_df, "pairs")

    cc = connected_components(
        pairs.select("a_id", "b_id"), cfg.cc_max_iter, cfg.cc_driver_threshold
    )

    if cfg.selection == "greedy":
        # reference-exact greedy over the round's pair set
        # (SelectLogicReducer.java:56-104), parallel across components
        from simhash_text_dedup_spark.operators.selection import (
            assign_actions_greedy,
        )

        # assign_actions_greedy's is_new flag drives delete-vs-modify:
        # the reference splits on the LOADED flag, so is_new := NOT loaded
        a_meta = pairs.select(
            F.col("a_id").alias("doc_id"),
            F.col("a_score").alias("score"),
            (~F.col("a_loaded")).alias("is_new"),
        )
        b_meta = pairs.select(
            F.col("b_id").alias("doc_id"),
            F.col("b_score").alias("score"),
            (~F.col("b_loaded")).alias("is_new"),
        )
        meta = a_meta.unionByName(b_meta).dropDuplicates(["doc_id"])
        actions = assign_actions_greedy(
            meta.join(cc, "doc_id"), pairs.select("a_id", "b_id")
        )
        delete_list = ck.through(
            actions.filter(F.col("action") == "delete").select("doc_id"),
            "delete_list",
        )
        modify_list = ck.through(
            actions.filter(F.col("action") == "modify").select("doc_id"),
            "modify_list",
        )
    else:
        # --- 'cc' mode: per-pair loser split (loser_lists_cc).  The
        # delete list feeds both the caller's commit and its output, so
        # it is cut; the modify list has one reader and only observed
        dels, mods = loser_lists_cc(pairs)
        delete_list = ck.through(dels, "delete_list")
        modify_list = ck.observe(mods, "modify_list")

    return IncrementalResult(
        new_fingerprints=new_fps,
        unload=unload,
        spam_kills=kills,
        pairs=pairs,
        delete_list=delete_list,
        modify_list=modify_list,
        clusters=cc,
        metrics={"observed_metrics": ck.observed_metrics},
        new_signatures=new_sigs_out,
    )
