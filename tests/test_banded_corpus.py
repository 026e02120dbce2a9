"""Pre-banded bucketed corpus layout: pair-set parity with the
per-round candidate generator, the co-location property (the cold
corpus side of the round join never shuffles), hot-bucket salt
routing, and incremental append maintenance (append == fresh rewrite,
existing files untouched, drift check)."""

import io
import re
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from simhash_text_dedup_spark.config import DedupConfig
from simhash_text_dedup_spark.plans.incremental import candidate_pairs
from simhash_text_dedup_spark.sources.banded_corpus import (
    append_banded_corpus,
    assert_banded_sync,
    candidate_pairs_banded,
    live_doc_count,
    write_banded_corpus,
)

CFG = DedupConfig()


@pytest.fixture(scope="module")
def fps(spark):
    # spread fingerprints + planted 1-bit mutants (guaranteed pairs)
    rows = []
    for i in range(400):
        fp = (i * 2654435761 * 40503) % (1 << 60)
        rows.append((i, fp))
        if i % 5 == 0:
            rows.append((i + 100000, fp ^ (1 << (i % 60))))
    return spark.createDataFrame(rows, "doc_id long, fingerprint long")


def _sides(fps):
    is_new = (F.col("doc_id") % 2 == 1) | (F.col("doc_id") >= 100000)
    score = F.col("fingerprint").bitwiseAND(F.lit(1048575)).cast("double")
    tagged = fps.select(
        "doc_id", "fingerprint", is_new.alias("is_new"),
        (~is_new).alias("is_loaded"), score.alias("score"),
    )
    new_side = tagged.filter("is_new")
    corpus = tagged.filter("NOT is_new").select(
        "doc_id", F.col("doc_id").alias("entity_id"), "fingerprint", "score"
    )
    return new_side, corpus, tagged


def _pair_set(df):
    return {(r.a_id, r.b_id, r.hamming) for r in df.collect()}


@pytest.fixture()
def db(spark, tmp_path_factory, request):
    name = f"bct{abs(hash(request.node.name)) % 100000}"
    wh = tmp_path_factory.mktemp("bandedwh")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {name} LOCATION '{wh}'")
    yield name
    spark.sql(f"DROP DATABASE IF EXISTS {name} CASCADE")


def test_banded_corpus_pair_parity(spark, fps, db):
    """candidate_pairs_banded over the saved layout must produce the
    IDENTICAL pair set to the per-round candidate_pairs."""
    new_side, corpus, tagged = _sides(fps)
    write_banded_corpus(corpus, f"{db}.banded", CFG, n_buckets=8)
    got = _pair_set(
        candidate_pairs_banded(spark, new_side, f"{db}.banded", CFG)
    )
    want = _pair_set(candidate_pairs(new_side, tagged, CFG))
    assert got == want
    assert len(want) > 0  # planted mutants guarantee pairs


def test_banded_join_corpus_side_never_shuffles(spark, fps, db):
    """The round join against the saved layout must read the cold
    corpus bucketed (co-located): exactly ONE exchange hashes on the
    fused bkey alone — the small NEW side — never the corpus scan.
    (The hot-bucket sub-join's exchanges hash on (bkey, salt) and only
    ever move hot rows.)"""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        new_side, corpus, _ = _sides(fps)
        write_banded_corpus(corpus, f"{db}.banded", CFG, n_buckets=8)
        j = candidate_pairs_banded(
            spark, new_side.drop("entity_id"), f"{db}.banded", CFG
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue()
        assert "Bucketed: true" in plan, plan
        assert "SelectedBucketsCount" in plan, plan
        # exactly one exchange hashes on the fused key ALONE (the NEW
        # side); the corpus scan feeds its SortMergeJoin with no
        # exchange.  hashpartitioning(bkey#N, <numparts>) = single-key;
        # the salted branch's hashpartitioning(bkey#N, salt#M, ...) is
        # allowed (it moves only hot rows).
        single_key = re.findall(r"hashpartitioning\(bkey#\d+, \d+\)", plan)
        assert len(single_key) == 1, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_hot_bucket_routing_parity_and_layout(spark, db):
    """A planted hot band bucket (cap=10) must (a) be physically split
    out of the co-located table into __hot, and (b) still yield the
    exact candidate_pairs pair set through the salted sub-join."""
    cfg = CFG.with_(band_bucket_cap=10, salt_partitions=4)
    base = 0x2B3C << 44  # band 0 (top 16 bits) shared by the crowd
    rows = []
    for i in range(40):  # hot crowd: 40 corpus docs sharing band 0
        rows.append((i, base | (i << 28) | (i << 12) | i))
    # cold corpus docs (random-ish bands)
    for i in range(100, 140):
        rows.append((i, (i * 2654435761 * 9176) % (1 << 60)))
    corpus = spark.createDataFrame(
        rows, "doc_id long, fingerprint long"
    ).select(
        "doc_id", F.col("doc_id").alias("entity_id"), "fingerprint",
        F.lit(1.0).alias("score"),
    )
    # new batch: 1-bit mutants of crowd member 7 and cold member 120
    new_rows = [(1000, rows[7][1] ^ (1 << 2)), (1001, rows[120 - 60][1] ^ (1 << 2))]
    new_side = spark.createDataFrame(
        new_rows, "doc_id long, fingerprint long"
    ).select(
        "doc_id", "fingerprint", F.lit(True).alias("is_new"),
        F.lit(False).alias("is_loaded"), F.lit(2.0).alias("score"),
    )
    write_banded_corpus(corpus, f"{db}.hotb", cfg, n_buckets=4)

    hot_tbl = spark.table(f"{db}.hotb__hot")
    cold_tbl = spark.table(f"{db}.hotb")
    assert hot_tbl.count() >= 40  # the crowd's band-0 rows left the bucketed table
    hot_keys = {r.bkey for r in hot_tbl.select("bkey").distinct().collect()}
    cold_keys = {r.bkey for r in cold_tbl.select("bkey").distinct().collect()}
    assert hot_keys and hot_keys.isdisjoint(cold_keys)

    tagged = corpus.select(
        "doc_id", "fingerprint", F.lit(False).alias("is_new"),
        F.lit(True).alias("is_loaded"), "score",
    ).unionByName(new_side)
    got = _pair_set(candidate_pairs_banded(spark, new_side, f"{db}.hotb", cfg))
    want = _pair_set(candidate_pairs(new_side, tagged, cfg))
    assert got == want
    assert (1000, 7, 1) in {(a, b, h) for a, b, h in got}  # hot-bucket pair found


def test_hot_rows_meet_when_read_under_a_higher_cap(spark, db):
    """Rows a layout moved to __hot under a lower band_bucket_cap are
    not hot for a round read under a higher cap; their pairs must
    still be found, not dropped."""
    base = 0x2B3C << 44  # band 0 shared by the crowd
    rows = [(i, base | (i << 28) | (i << 12) | i) for i in range(40)]
    corpus = spark.createDataFrame(rows, "doc_id long, fingerprint long").select(
        "doc_id", F.col("doc_id").alias("entity_id"), "fingerprint",
        F.lit(1.0).alias("score"),
    )
    # a 1-bit mutant of crowd member 7: first matching band is band 0
    new_side = spark.createDataFrame(
        [(1000, rows[7][1] ^ (1 << 2))], "doc_id long, fingerprint long"
    ).select(
        "doc_id", "fingerprint", F.lit(True).alias("is_new"),
        F.lit(False).alias("is_loaded"), F.lit(2.0).alias("score"),
    )
    write_banded_corpus(corpus, f"{db}.capb", CFG.with_(band_bucket_cap=10), n_buckets=4)
    tagged = corpus.select(
        "doc_id", "fingerprint", F.lit(False).alias("is_new"),
        F.lit(True).alias("is_loaded"), "score",
    ).unionByName(new_side)
    got = _pair_set(candidate_pairs_banded(spark, new_side, f"{db}.capb", CFG))
    assert got == _pair_set(candidate_pairs(new_side, tagged, CFG))
    assert (1000, 7, 1) in got


def _merged(corpus, batch_fps):
    """Reference semantics of corpus-after-commit: re-crawled entities'
    old rows replaced by the batch's rows."""
    return corpus.join(
        batch_fps.select("entity_id").distinct(), "entity_id", "left_anti"
    ).unionByName(batch_fps.select("doc_id", "entity_id", "fingerprint", "score"))


def test_append_matches_fresh_rewrite(spark, fps, db):
    """append_banded_corpus(batch) on a maintained layout must yield
    the IDENTICAL round pair set as write_banded_corpus on the merged
    corpus — including re-crawled entities masked via tombstones."""
    _, corpus, _ = _sides(fps)
    # batch: 10 re-crawls of entities 0..18 (even ids) + 10 brand-new
    batch = corpus.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 5000).alias("doc_id"),
        "entity_id",
        F.col("fingerprint").bitwiseXOR(F.lit(1 << 33)).alias("fingerprint"),
        (F.col("score") + 1).alias("score"),
    ).unionByName(
        corpus.filter(
            (F.col("doc_id") >= 20) & (F.col("doc_id") < 40)
        ).select(
            (F.col("doc_id") + 9000).alias("doc_id"),
            (F.col("entity_id") + 9000).alias("entity_id"),
            F.col("fingerprint").bitwiseXOR(F.lit(3)).alias("fingerprint"),
            "score",
        )
    )
    write_banded_corpus(corpus, f"{db}.main", CFG, n_buckets=8)
    stale = corpus.join(
        F.broadcast(batch.select("entity_id").distinct()),
        "entity_id",
        "left_semi",
    ).select("doc_id")
    append_banded_corpus(batch, f"{db}.main", CFG, stale_doc_ids=stale)

    merged = _merged(corpus, batch)
    write_banded_corpus(merged, f"{db}.fresh", CFG, n_buckets=8)

    new_side, *_ = _sides(fps)
    new_side = new_side.withColumn("entity_id", F.col("doc_id") + 777000)
    got = _pair_set(
        candidate_pairs_banded(spark, new_side, f"{db}.main", CFG)
    )
    want = _pair_set(
        candidate_pairs_banded(spark, new_side, f"{db}.fresh", CFG)
    )
    assert got == want and len(want) > 0
    # the maintained layout's live count tracks the merged corpus
    assert live_doc_count(spark, f"{db}.main", CFG) == merged.count()
    assert_banded_sync(spark, f"{db}.main", merged, CFG)  # no raise


def test_append_leaves_existing_files_untouched(spark, fps, db):
    """The bucketed append shuffles ONLY the batch: every pre-append
    data file of the co-located table survives byte-identical paths —
    no O(corpus) rewrite per round (the whole point of the layout)."""
    _, corpus, _ = _sides(fps)
    write_banded_corpus(corpus, f"{db}.app", CFG, n_buckets=8)
    before = set(spark.table(f"{db}.app").inputFiles())
    batch = corpus.limit(10).select(
        (F.col("doc_id") + 70000).alias("doc_id"),
        (F.col("entity_id") + 70000).alias("entity_id"),
        F.col("fingerprint").bitwiseXOR(F.lit(5)).alias("fingerprint"),
        "score",
    )
    append_banded_corpus(batch, f"{db}.app", CFG)
    spark.catalog.refreshTable(f"{db}.app")
    after = set(spark.table(f"{db}.app").inputFiles())
    assert before <= after
    assert len(after) > len(before)


def test_append_derives_stale_ids_when_not_given(spark, fps, db):
    """stale_doc_ids=None: superseded rows are derived from the
    layout's own band-0 slice and still tombstoned."""
    _, corpus, _ = _sides(fps)
    write_banded_corpus(corpus, f"{db}.der", CFG, n_buckets=8)
    recrawl = corpus.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 80000).alias("doc_id"),
        "entity_id",
        F.col("fingerprint").bitwiseXOR(F.lit(9)).alias("fingerprint"),
        "score",
    )
    append_banded_corpus(recrawl, f"{db}.der", CFG)
    tombs = {r.doc_id for r in spark.table(f"{db}.der__tombstones").collect()}
    want = {r.doc_id for r in corpus.filter(F.col("doc_id") < 10).collect()}
    assert tombs == want
    assert live_doc_count(spark, f"{db}.der", CFG) == corpus.count()


def test_sync_check_raises_on_drift(spark, fps, db):
    """A layout that drifted from the round's base must fail loudly
    (round-3 ADVICE: silent trust -> wrong pair set)."""
    from simhash_text_dedup_spark.plans.incremental import run_incremental

    _, corpus, _ = _sides(fps)
    write_banded_corpus(corpus, f"{db}.sync", CFG, n_buckets=8)
    drifted = corpus.unionByName(
        corpus.limit(3).select(
            (F.col("doc_id") + 31337).alias("doc_id"),
            (F.col("entity_id") + 31337).alias("entity_id"),
            "fingerprint",
            "score",
        )
    )
    with pytest.raises(ValueError, match="out of sync"):
        assert_banded_sync(spark, f"{db}.sync", drifted, CFG)
    new_docs = spark.createDataFrame(
        [("r", "p", "c1", "py", "some new content here")],
        "repo string, path string, commit string, lang string, content string",
    )
    with pytest.raises(ValueError, match="out of sync"):
        run_incremental(
            spark, new_docs, drifted, CFG,
            banded_corpus_table=f"{db}.sync",
        )


def test_append_warns_when_bucket_drifts_hot(spark, db):
    """A bucket crossing band_bucket_cap through appends warns (its
    pre-existing rows stay co-located until compaction)."""
    cfg = CFG.with_(band_bucket_cap=10, salt_partitions=2)
    base = 0x7D1E << 44
    corpus = spark.createDataFrame(
        [(i, base | (i << 20) | i) for i in range(8)],
        "doc_id long, fingerprint long",
    ).select(
        "doc_id", F.col("doc_id").alias("entity_id"), "fingerprint",
        F.lit(1.0).alias("score"),
    )
    write_banded_corpus(corpus, f"{db}.warm", cfg, n_buckets=4)
    batch = spark.createDataFrame(
        [(100 + i, base | (i << 21) | (i << 5) | 7) for i in range(8)],
        "doc_id long, fingerprint long",
    ).select(
        "doc_id", (F.col("doc_id") + 1000).alias("entity_id"), "fingerprint",
        F.lit(1.0).alias("score"),
    )
    with pytest.warns(RuntimeWarning, match="crossed band_bucket_cap"):
        append_banded_corpus(batch, f"{db}.warm", cfg)
    # the batch's rows for the now-hot bucket went to __hot
    assert spark.table(f"{db}.warm__hot").count() >= 8


def test_compaction_drops_tombstones_and_preserves_pairs(spark, fps, db):
    """LSM-style compaction (write_banded_corpus from the merged
    corpus) must clear the tombstone list and leave the round's pair
    set unchanged."""
    _, corpus, _ = _sides(fps)
    recrawl = corpus.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 60000).alias("doc_id"), "entity_id",
        F.col("fingerprint").bitwiseXOR(F.lit(17)).alias("fingerprint"),
        "score",
    )
    write_banded_corpus(corpus, f"{db}.cpt", CFG, n_buckets=8)
    append_banded_corpus(recrawl, f"{db}.cpt", CFG)
    assert spark.table(f"{db}.cpt__tombstones").count() == 5

    new_side, *_ = _sides(fps)
    new_side = new_side.withColumn("entity_id", F.col("doc_id") + 888000)
    before = _pair_set(
        candidate_pairs_banded(spark, new_side, f"{db}.cpt", CFG)
    )
    merged = _merged(corpus, recrawl)
    write_banded_corpus(merged, f"{db}.cpt", CFG, n_buckets=8)  # compact
    spark.catalog.refreshTable(f"{db}.cpt")
    assert spark.table(f"{db}.cpt__tombstones").count() == 0
    assert live_doc_count(spark, f"{db}.cpt", CFG) == merged.count()
    after = _pair_set(
        candidate_pairs_banded(spark, new_side, f"{db}.cpt", CFG)
    )
    assert after == before
