"""Incremental new-vs-old round semantics (reference §3.1 DeDup job)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from simhash_text_dedup_spark.config import DedupConfig
from simhash_text_dedup_spark.plans.incremental import run_incremental
from simhash_text_dedup_spark.plans.pipeline import prepare_documents, fingerprint_stage
from simhash_text_dedup_spark.sources.corpus import CorpusSpec, generate_corpus, _perturb

CFG = DedupConfig(spam_threshold=5)


def _mkdocs(rows):
    return pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])


@pytest.fixture(scope="module")
def scenario(spark):
    base_pdf, _ = generate_corpus(CorpusSpec(n_docs=120, seed=9))
    base_df = spark.createDataFrame(base_pdf)
    prepared = prepare_documents(base_df).withColumn(
        "entity_id", F.xxhash64("repo", "path")
    )
    base_fps = (
        fingerprint_stage(prepared, CFG)
        .join(prepared.select("doc_id", "entity_id"), "doc_id")
        .select("doc_id", "entity_id", "fingerprint", "score")
    )

    # new batch: unchanged re-crawl, near-dup of old doc, new x new pair,
    # and a unique doc
    row0 = base_pdf.iloc[0]   # re-crawled, unchanged content
    row1 = base_pdf.iloc[1]   # re-crawled with small edit (near-dup of old)
    import random

    rng = random.Random(123)
    edited = _perturb(rng, row1.content, 1)
    fresh = "def brand_new_function(arg):\n    " + " ".join(
        f"unique_token_{i}" for i in range(80)
    )
    fresh2 = fresh.replace("unique_token_40", "renamed_tok")
    new_pdf = _mkdocs(
        [
            (row0.repo, row0.path, "c" * 40, row0.lang, row0.content),
            (row1.repo, row1.path, "d" * 40, row1.lang, edited),
            ("orgN/repoN", "src/a/new1.py", "e" * 40, "python", fresh),
            ("orgN/repoN", "src/a/new2.py", "f" * 40, "python", fresh2),
            ("orgN/repoN", "src/a/uniq.py", "a1" * 20, "python", "only one tiny doc"),
        ]
    )
    res = run_incremental(spark, spark.createDataFrame(new_pdf), base_fps, CFG)
    return res, base_pdf, new_pdf


def test_unchanged_recrawl_goes_to_unload(spark, scenario):
    res, base_pdf, new_pdf = scenario
    unload = res.unload.toPandas()
    # exactly the unchanged re-crawl (doc 0 of the new batch)
    expected_entity = spark.createDataFrame(new_pdf.iloc[[0]]).select(
        F.xxhash64("repo", "path").alias("e")
    ).collect()[0].e
    assert list(unload.entity_id) == [expected_entity]


def test_pair_domain_excludes_old_x_old(scenario):
    res, *_ = scenario
    pairs = res.pairs.toPandas()
    assert len(pairs) > 0
    assert (pairs.a_is_new | pairs.b_is_new).all()
    # left side is always from the new batch in this plan
    assert pairs.a_is_new.all()


def test_near_dup_of_old_found(spark, scenario):
    res, base_pdf, new_pdf = scenario
    pairs = res.pairs.toPandas()
    old_partners = pairs[~pairs.b_is_new]
    # the edited re-crawl of row1 must pair with its old version
    # (calibrated edit of 1 token on a >=30-line doc stays within Hamming 3
    # most of the time; assert at least one new-old pair exists)
    assert len(old_partners) >= 1


def test_new_x_new_found_once(spark, scenario):
    res, base_pdf, new_pdf = scenario
    newnew = res.pairs.filter("a_is_new and b_is_new").toPandas()
    assert len(newnew) >= 1
    assert (newnew.a_id < newnew.b_id).all()
    # no duplicate undirected pairs
    keys = set(map(tuple, newnew[["a_id", "b_id"]].values))
    assert len(keys) == len(newnew)


def test_no_entity_pairs_with_its_own_previous_row(spark, scenario):
    """Every entity participates once, with its CURRENT fingerprint
    (DeDupMapper.java:156-158 finger = newfinger): a re-crawled doc must
    never pair with its own stale base row (round-1 ADVICE — that put
    one entity on both the unload and delete/modify lists)."""
    res, base_pdf, new_pdf = scenario
    base_df = spark.createDataFrame(base_pdf)
    base_ent = {
        r.doc_id: r.entity_id
        for r in prepare_documents(base_df)
        .withColumn("entity_id", F.xxhash64("repo", "path"))
        .select("doc_id", "entity_id")
        .collect()
    }
    new_ent = {
        r.doc_id: r.entity_id
        for r in res.new_fingerprints.select("doc_id", "entity_id").collect()
    }
    ent = {**base_ent, **new_ent}
    pairs = res.pairs.toPandas()
    for p in pairs.itertuples(index=False):
        assert ent[p.a_id] != ent[p.b_id], (p.a_id, p.b_id)
    # stale base rows of re-crawled entities are out of the pair domain
    recrawled = set(new_ent.values())
    stale = {d for d, e in base_ent.items() if e in recrawled}
    assert stale.isdisjoint(set(pairs.a_id) | set(pairs.b_id))


def _greedy_dead(pairs_pdf):
    """Reference greedy (SelectLogicReducer.java:56-104) over a pair set."""
    oriented = []
    for p in pairs_pdf.itertuples(index=False):
        a, b, sa, sb = p.a_id, p.b_id, p.a_score, p.b_score
        if (sb, -b) > (sa, -a):
            a, b, sa, sb = b, a, sb, sa
        oriented.append((sa, a, b))
    oriented.sort(key=lambda r: (-r[0], r[1], r[2]))
    dead = set()
    for _, winner, loser in oriented:
        if winner in dead:
            continue
        dead.add(loser)
    return dead


def test_greedy_incremental_matches_reference(spark, scenario):
    """cfg.selection='greedy' in run_incremental must reproduce the
    reference greedy's delete/modify split exactly, given the round's
    pair set (round-1 VERDICT item 8)."""
    res_cc, base_pdf, new_pdf = scenario
    # rebuild base_fps as in the fixture and rerun with greedy selection
    base_df = spark.createDataFrame(base_pdf)
    prepared = prepare_documents(base_df).withColumn(
        "entity_id", F.xxhash64("repo", "path")
    )
    base_fps = (
        fingerprint_stage(prepared, CFG)
        .join(prepared.select("doc_id", "entity_id"), "doc_id")
        .select("doc_id", "entity_id", "fingerprint", "score")
    )
    cfg = CFG.with_(selection="greedy")
    res = run_incremental(spark, spark.createDataFrame(new_pdf), base_fps, cfg)
    pairs = res.pairs.toPandas()
    assert len(pairs) > 0
    dead = _greedy_dead(pairs)
    loaded = {}
    for p in pairs.itertuples(index=False):
        loaded[p.a_id] = p.a_loaded
        loaded[p.b_id] = p.b_loaded
    want_del = {d for d in dead if not loaded[d]}
    want_mod = {d for d in dead if loaded[d]}
    assert set(res.delete_list.toPandas().doc_id) == want_del
    assert set(res.modify_list.toPandas().doc_id) == want_mod


def test_delete_vs_modify_split(scenario):
    res, *_ = scenario
    dels = set(res.delete_list.toPandas().doc_id)
    mods = set(res.modify_list.toPandas().doc_id)
    assert dels.isdisjoint(mods) or dels == mods == set()
    # losers whose entity isn't loaded -> delete; loaded -> modify
    # (the reference's lf flag, not batch membership)
    pairs = res.pairs.toPandas()
    for _, p in pairs.iterrows():
        if (p.a_score, -p.a_id) > (p.b_score, -p.b_id):
            loser, loser_loaded = p.b_id, p.b_loaded
        else:
            loser, loser_loaded = p.a_id, p.a_loaded
        assert loser in (mods if loser_loaded else dels)


def test_banded_table_round_matches_plain_round(spark, scenario, tmp_path_factory):
    """run_incremental(banded_corpus_table=...) against the saved
    pre-banded bucketed corpus must produce the identical pairs and
    delete/modify/unload lists as the plain in-memory round."""
    from simhash_text_dedup_spark.sources.banded_corpus import (
        write_banded_corpus,
    )

    res_plain, base_pdf, new_pdf = scenario
    prepared = prepare_documents(spark.createDataFrame(base_pdf)).withColumn(
        "entity_id", F.xxhash64("repo", "path")
    )
    base_fps = (
        fingerprint_stage(prepared, CFG)
        .join(prepared.select("doc_id", "entity_id"), "doc_id")
        .select("doc_id", "entity_id", "fingerprint", "score")
    )
    wh = tmp_path_factory.mktemp("incbandedwh")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS incb LOCATION '{wh}'")
    try:
        write_banded_corpus(base_fps, "incb.corpus", CFG, n_buckets=8)
        res_banded = run_incremental(
            spark,
            spark.createDataFrame(new_pdf),
            base_fps,
            CFG,
            banded_corpus_table="incb.corpus",
        )
        for attr in ("delete_list", "modify_list"):
            a = {r.doc_id for r in getattr(res_plain, attr).collect()}
            b = {r.doc_id for r in getattr(res_banded, attr).collect()}
            assert a == b, attr
        a = {r.doc_id for r in res_plain.unload.collect()}
        b = {r.doc_id for r in res_banded.unload.collect()}
        assert a == b
        pa = {(r.a_id, r.b_id, r.hamming) for r in res_plain.pairs.collect()}
        pb = {(r.a_id, r.b_id, r.hamming) for r in res_banded.pairs.collect()}
        assert pa == pb
    finally:
        spark.sql("DROP DATABASE IF EXISTS incb CASCADE")


def test_steady_round_compiles_no_new_classes(spark, tmp_path):
    """A second round over the same inputs reuses every generated class:
    the session's codegen cache holds all the classes one round compiles."""
    base_pdf, _ = generate_corpus(CorpusSpec(n_docs=80, seed=21))
    spark.createDataFrame(base_pdf.iloc[:60]).write.parquet(str(tmp_path / "base_docs"))
    spark.createDataFrame(base_pdf.iloc[50:]).write.parquet(str(tmp_path / "batch"))
    prepared = prepare_documents(spark.read.parquet(str(tmp_path / "base_docs"))).withColumn(
        "entity_id", F.xxhash64("repo", "path")
    )
    fingerprint_stage(prepared, CFG).join(
        prepared.select("doc_id", "entity_id"), "doc_id"
    ).select("doc_id", "entity_id", "fingerprint", "score").write.parquet(str(tmp_path / "base"))
    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def round_():
        res = run_incremental(spark, spark.read.parquet(str(tmp_path / "batch")),
                              spark.read.parquet(str(tmp_path / "base")), CFG)
        return [sorted(df.collect()) for df in (
            res.new_fingerprints, res.unload, res.spam_kills, res.pairs,
            res.delete_list, res.modify_list,
        )]

    first = round_()
    before = metric.getCount()
    assert round_() == first
    assert metric.getCount() - before == 0
