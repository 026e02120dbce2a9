"""Physical-plan assertions: the scale properties claimed in
ARCHITECTURE.md must be visible in `.explain("formatted")` — pushdown,
column pruning, no dedup shuffle in the band join, broadcast of tiny
sides, whole-stage codegen on the verify predicate."""

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from simhash_text_dedup_spark.config import DedupConfig
from simhash_text_dedup_spark.operators.pairs import near_pairs

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_scan_pushdown_and_column_pruning(spark):
    df = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .filter(F.col("lang") == "en")
        .select("doc_id", "source", "n_chars")
    )
    plan = _plan(df)
    # predicate reaches the parquet scan
    assert "EqualTo(lang,en)" in plan, plan
    # projection pruned at the scan: the wide text column is NOT read
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "text" not in read_schema, read_schema
    assert "doc_id" in read_schema


@pytest.fixture(scope="module")
def small_fps(spark):
    rows = [(i, (i * 2654435761) % (1 << 60)) for i in range(200)]
    return spark.createDataFrame(rows, "doc_id long, fingerprint long")


def test_band_join_has_no_dedup_shuffle(spark, small_fps):
    """Pair dedup is the first-matching-band predicate inside the join —
    there must be NO Deduplicate/Window/dropDuplicates node in the plan
    (at 10^12 files a post-join dedup shuffle is the bottleneck)."""
    plan = _plan(near_pairs(small_fps, DedupConfig()))
    assert "Deduplicate" not in plan
    assert "Window" not in plan


def test_band_join_broadcasts_hot_bucket_set(spark, small_fps):
    """The hot-bucket histogram tail joins back via broadcast, never a
    shuffled join."""
    plan = _plan(near_pairs(small_fps, DedupConfig()))
    assert "BroadcastExchange" in plan


def test_verify_predicate_is_jvm_side(spark, small_fps):
    """Hamming verify (bit_count(xor)) and the first-match predicate are
    JVM expressions — no Python evaluation node anywhere in the band
    join / verify plan."""
    plan = _plan(near_pairs(small_fps, DedupConfig()))
    assert "bit_count" in plan
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_quota_topk_broadcasts_counts(spark):
    from simhash_text_dedup_spark.operators.topk import quota_topk

    df = spark.createDataFrame(
        [(i, float(i), i % 2 == 0) for i in range(100)],
        "doc_id long, score double, is_old boolean",
    )
    plan = _plan(quota_topk(df, k=10))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_quota_topk_no_two_partition_shuffle(spark):
    """The round-2 scale-killer: ranking each side with
    Window.partitionBy(is_old) shuffled the ENTIRE table into at most
    two tasks.  The fixed plan must (a) never hash-exchange on the
    2-cardinality is_old key and (b) reduce each side with
    TakeOrderedAndProject (per-partition top-k + driver merge — the
    Spark analog of TotalValueSort.java's sampled range partitioning)."""
    from simhash_text_dedup_spark.operators.topk import quota_topk

    df = spark.createDataFrame(
        [(i, float(i), i % 2 == 0) for i in range(100)],
        "doc_id long, score double, is_old boolean",
    )
    plan = _plan(quota_topk(df, k=10))
    assert "TakeOrderedAndProject" in plan, plan
    assert "hashpartitioning(is_old" not in plan, plan
    assert "hashpartitioning(NOT is_old" not in plan, plan


def test_fingerprint_stage_single_python_stage(spark):
    """Exactly ONE Arrow/pandas-UDF evaluation in the fingerprint plan —
    utf-8 encode happens JVM-side, everything downstream is columnar."""
    from simhash_text_dedup_spark.plans.pipeline import (
        fingerprint_stage,
        prepare_documents,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").selectExpr(
        "'r' as repo", "cast(doc_id as string) as path",
        "'c' as commit", "lang", "text as content"
    )
    import re

    plan = _plan(fingerprint_stage(prepare_documents(docs), DedupConfig()))
    node_ids = set(re.findall(r"\((\d+)\) ArrowEvalPython", plan))
    assert len(node_ids) == 1, plan
    # no row-at-a-time Python UDF node anywhere
    assert "BatchEvalPython" not in plan


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Two tables bucketed on the same key/count must sort-merge join
    with NO Exchange in the plan (co-located join — the write-once
    layout that makes repeated corpus-x-metadata joins shuffle-free)."""
    from simhash_text_dedup_spark.sources.io import write_bucketed_table

    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS bdemo LOCATION '{tmp_path}/wh'"
    )
    # at test scale Catalyst would just broadcast the tiny side; disable
    # that to expose the layout property a 100-TB join relies on
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        left = docs.select("doc_id", "lang")
        right = docs.select("doc_id", "n_chars")
        write_bucketed_table(left, "bdemo.t_lang", "doc_id", n_buckets=8)
        write_bucketed_table(right, "bdemo.t_chars", "doc_id", n_buckets=8)
        j = spark.table("bdemo.t_lang").join(spark.table("bdemo.t_chars"), "doc_id")
        plan = _plan(j)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        # and the join is actually correct
        assert j.count() == docs.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP DATABASE IF EXISTS bdemo CASCADE")


def test_aqe_skew_join_backstop(spark):
    """ARCHITECTURE claims 'AQE skew-join backstops moderate imbalance'
    — make it executable: a skewed sort-merge join with lowered skew
    thresholds must show skew=true in the final adaptive plan (the hot
    partition split across tasks at runtime)."""
    restore = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.adaptive.enabled",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    tuned = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    for k, v in tuned.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(200_000).select(
            F.when(F.col("id") % 10 != 0, 0).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(0, 200_000, 50).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = left.join(right, "k")
        assert len(j.collect()) > 0  # execute THIS plan so AQE finalizes it
        # the finalized adaptive plan lives on the executed DataFrame's
        # own queryExecution (explain() would re-plan from scratch)
        final = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final, final
    finally:
        for k, v in restore.items():
            spark.conf.set(k, v)
        for k in tuned:
            if k not in restore:
                spark.conf.unset(k)


def test_spread_input_file_path_never_converts_to_rdd(spark, tmp_path):
    """Round-3 VERDICT #8: for file-backed input (the 100-TB hot path)
    spread_input must decide from inputFiles() alone — any .rdd touch
    (a DataFrame->RDD conversion plan per run) fails this test."""
    from unittest.mock import patch

    from pyspark.sql import DataFrame as _DF

    from simhash_text_dedup_spark.plans.pipeline import spread_input

    spark.range(100).write.mode("overwrite").parquet(str(tmp_path / "p"))
    docs = spark.read.parquet(str(tmp_path / "p"))

    def _boom(self):
        raise AssertionError("spread_input touched .rdd on the file path")

    with patch.object(_DF, "rdd", property(_boom)):
        out = spread_input(docs, 4)
    assert out.count() == 100


def test_dup_spans_corpus_side_never_exchanges_on_gram(spark):
    """dup_spans' only corpus-sized exchanges are the gram-frequency
    aggregation itself; the positions side joins the (small) dup-gram
    table via broadcast, and the island merge exchanges on doc_id —
    the full corpus gram stream is never hash-partitioned for a join."""
    import re

    from simhash_text_dedup_spark.operators.dupspans import dup_spans

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(dup_spans(docs, width=5, min_docs=2))
    assert "BroadcastHashJoin" in plan, plan
    # exchanges: gram-agg (distinct expand + count) and the doc_id
    # window — no SortMergeJoin exchange pair on the gram key
    assert "SortMergeJoin" not in plan, plan
    assert len(re.findall(r"hashpartitioning\(doc_id#\d+L?, \d+\)", plan)) == 1, plan


def test_semdedup_broadcasts_centroids_single_arrow_stage(spark):
    """semdedup: the centroid table joins via broadcast; cluster
    assignment is ONE Arrow pandas-UDF pass (no row-at-a-time
    BatchEvalPython anywhere)."""
    import re

    import numpy as np

    from simhash_text_dedup_spark.operators.semdedup import assign_clusters

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(assign_clusters(emb, np.eye(8, 64)))
    assert "BroadcastHashJoin" in plan, plan
    # one numbered ArrowEvalPython node (the formatted tree lists each
    # node twice: summary + detail)
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1, plan
    assert "BatchEvalPython" not in plan, plan


def test_temperature_sample_broadcasts_quotas(spark):
    """The per-group quota table joins back onto the corpus via
    broadcast; the corpus exchanges once, on the group key the window
    ranking needs anyway."""
    import re

    from simhash_text_dedup_spark.operators.mixing import temperature_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(temperature_sample(docs, "lang", 100))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # corpus-side single exchange on the group key
    assert len(re.findall(r"hashpartitioning\(group#\d+L?, \d+\)", plan)) <= 2, plan


def test_license_detect_is_single_stage_codegen(spark):
    # license_id is one narrow projection over the scan: no Exchange,
    # no Python UDF — pure whole-stage-codegen expressions
    from simhash_text_dedup_spark.functions.license_id import (
        detect_license,
        is_permissive,
    )

    df = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id",
        detect_license(F.col("text")).alias("license"),
        is_permissive(detect_license(F.col("text"))).alias("permissive"),
    )
    plan = _plan(df)
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan  # no BatchEvalPython/ArrowEval
    assert "* Project" in plan, plan  # codegen'd projection


def test_bpe_pair_counts_partial_aggregation(spark):
    # the per-iteration workhorse must map-side combine: two HashAggs
    # (partial + final) around ONE Exchange on the pair key, and the
    # wide text column must not survive past the word extraction
    from simhash_text_dedup_spark.operators.bpe import (
        initial_symbols,
        pair_counts,
        word_counts,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = pair_counts(initial_symbols(word_counts(docs)))
    plan = _plan(df)
    import re as _re

    # partial+final pairs: >= 4 distinct HashAggregate detail nodes
    assert len(_re.findall(r"^\(\d+\) HashAggregate", plan, _re.M)) >= 4, plan
    # exactly two shuffles: word groupBy + pair groupBy
    assert len(_re.findall(r"^\(\d+\) Exchange", plan, _re.M)) == 2, plan


def test_dup_gram_agg_spreads_hot_grams_two_phase(spark):
    """The gram-frequency aggregation must be two-phase: a first
    exchange on (gram, doc_id) dedups map-side, a second on gram folds
    pre-counted partials — so a universal boilerplate gram spreads its
    rows across reducers by doc_id instead of serializing one task."""
    import re

    from simhash_text_dedup_spark.operators.dupspans import dup_gram_hits

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(dup_gram_hits(docs, width=5, min_docs=2))
    two_key = re.findall(r"hashpartitioning\(gram#\d+, doc_id#\d+L?, \d+\)", plan)
    one_key = re.findall(r"hashpartitioning\(gram#\d+, \d+\)", plan)
    assert len(two_key) >= 1, plan
    assert len(one_key) >= 1, plan


def test_incremental_batch_scanned_once(spark, tmp_path):
    """run_incremental's new_fingerprints carry entity_id through the
    fingerprint projection: one scan of the batch, no join back to it."""
    import re
    from unittest.mock import patch

    from simhash_text_dedup_spark.plans.incremental import run_incremental
    from simhash_text_dedup_spark.plans.pipeline import Checkpointer
    from simhash_text_dedup_spark.sources.corpus import CorpusSpec, generate_corpus

    docs, _ = generate_corpus(CorpusSpec(n_docs=20, seed=5))
    spark.createDataFrame(docs).write.parquet(str(tmp_path / "batch"))
    staged = {}
    real_through = Checkpointer.through

    def spy(self, df, stage):
        staged[stage] = df
        return real_through(self, df, stage)

    with patch.object(Checkpointer, "through", spy):
        res = run_incremental(
            spark, spark.read.parquet(str(tmp_path / "batch")), None,
            DedupConfig(spam_threshold=5),
        )
    plan = _plan(staged["new_fingerprints"])
    assert len(set(re.findall(r"\((\d+)\) Scan parquet", plan))) == 1, plan
    assert "Join" not in plan, plan
    assert "entity_id" in res.new_fingerprints.columns


def _salt_joins(plan: str) -> int:
    import re

    return len(re.findall(r"^Left keys \[\d+\]: \[.*\bsalt#", plan, re.M))


def test_band_joins_route_hot_buckets_in_one_salted_join(spark):
    """Every band join takes one routing shape (operators/skew.py):
    one join keyed on salt, with cold and hot buckets together — no
    cold join + salted hot join + Union."""
    from simhash_text_dedup_spark.operators.minhash_pairs import minhash_candidates
    from simhash_text_dedup_spark.operators.similarity import lsh_near_pairs

    sigs = spark.createDataFrame(
        [(i, [i % 7, i % 11, i % 13, i]) for i in range(50)],
        "doc_id long, bands array<bigint>",
    )
    vecs = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 3), 1.0, float(i)]) for i in range(50)],
        "vec_id long, embedding array<float>",
    )
    # a JVM-side sketch keeps a Python runner out of the plan
    sketch = lambda e: F.transform(e, lambda x: F.floor(x).cast("long"))  # noqa: E731
    for df in (
        minhash_candidates(sigs, DedupConfig()),
        lsh_near_pairs(vecs, threshold=0.9, n_bands=4, sketch_fn=sketch),
    ):
        plan = _plan(df)
        assert "Union" not in plan, plan
        assert _salt_joins(plan) == 1, plan
