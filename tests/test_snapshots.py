"""Iceberg-shaped snapshot table: atomic commits, MERGE INTO upsert,
snapshot isolation, time travel, commit conflicts."""

import pytest

from simhash_text_dedup_spark.sources.snapshots import (
    ConcurrentCommit,
    SnapshotTable,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "entity_id long, fingerprint long, score double")


def test_append_and_time_travel(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    s1 = t.append(_df(spark, [(1, 10, 0.5), (2, 20, 0.6)]))
    s2 = t.append(_df(spark, [(3, 30, 0.7)]))
    assert t.current_snapshot() == s2
    assert t.read().count() == 3
    assert t.read(snapshot_id=s1).count() == 2  # VERSION AS OF


def test_merge_upserts_by_key(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, 10, 0.5), (2, 20, 0.6), (3, 30, 0.7)]))
    t.merge(_df(spark, [(2, 99, 0.9), (4, 40, 0.4)]), key_cols=["entity_id"])
    got = {r.entity_id: r.fingerprint for r in t.read().collect()}
    # matched row replaced, unmatched inserted, others untouched
    assert got == {1: 10, 2: 99, 3: 30, 4: 40}


def test_snapshot_isolation(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, 10, 0.5)]))
    pinned = t.read()  # file list pinned at current snapshot
    t.append(_df(spark, [(2, 20, 0.6)]))
    assert pinned.count() == 1       # later commit invisible
    assert t.read().count() == 2


def test_concurrent_commit_conflict(spark, tmp_path):
    t1 = SnapshotTable(spark, str(tmp_path / "t"))
    t1.append(_df(spark, [(1, 10, 0.5)]))
    # writer 2 commits while writer 1's merge is in flight -> conflict
    t2 = SnapshotTable(spark, str(tmp_path / "t"))
    parent = t1.current_snapshot()
    d, rows = t1._write_data(_df(spark, [(9, 90, 0.9)]), parent + 1)
    t2.append(_df(spark, [(2, 20, 0.6)]))  # head moves
    with pytest.raises(ConcurrentCommit):
        t1._commit(parent, "merge", [d], rows)


def test_merge_into_empty_table(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.merge(_df(spark, [(1, 10, 0.5)]), key_cols=["entity_id"])
    assert t.read().count() == 1


def test_incremental_round_persists_via_merge(spark, tmp_path):
    """The corpus fingerprint table flows through MERGE between rounds:
    round N's new_fingerprints upsert by entity_id (re-crawl replaces
    the stale row), and round N+1 reads the snapshot as its base."""
    from pyspark.sql import functions as F

    from simhash_text_dedup_spark.config import DedupConfig
    from simhash_text_dedup_spark.plans.incremental import run_incremental
    from simhash_text_dedup_spark.sources.corpus import CorpusSpec, generate_corpus

    cfg = DedupConfig(spam_threshold=5)
    docs_pdf, _ = generate_corpus(CorpusSpec(n_docs=60, seed=3))
    half1 = spark.createDataFrame(docs_pdf.iloc[:30])
    half2 = spark.createDataFrame(docs_pdf.iloc[30:])

    corpus = SnapshotTable(spark, str(tmp_path / "corpus"))

    # round 1: no base
    r1 = run_incremental(spark, half1, None, cfg)
    corpus.merge(
        r1.new_fingerprints.select("doc_id", "entity_id", "fingerprint", "score"),
        key_cols=["entity_id"],
    )
    assert corpus.read().count() == 30

    # round 2: base = snapshot table
    r2 = run_incremental(spark, half2, corpus.read(), cfg)
    corpus.merge(
        r2.new_fingerprints.select("doc_id", "entity_id", "fingerprint", "score"),
        key_cols=["entity_id"],
    )
    assert corpus.read().count() == 60
    # re-crawl of an entity from round 1 replaces, not duplicates
    recrawl = half1.limit(3).withColumn("commit", F.lit("z" * 40))
    r3 = run_incremental(spark, recrawl, corpus.read(), cfg)
    corpus.merge(
        r3.new_fingerprints.select("doc_id", "entity_id", "fingerprint", "score"),
        key_cols=["entity_id"],
    )
    assert corpus.read().count() == 60
    assert corpus.read().select("entity_id").distinct().count() == 60


def test_racing_writers_never_corrupt_committed_data(spark, tmp_path):
    """The loser of a commit race must not touch the winner's committed
    files: data dirs are unique per write attempt and the commit's
    head-check holds a lock."""
    t1 = SnapshotTable(spark, str(tmp_path / "t"))
    t1.append(_df(spark, [(1, 10, 0.5)]))
    parent = t1.current_snapshot()
    # writer A stages its data (not yet committed)
    d_a, rows_a = t1._write_data(_df(spark, [(7, 70, 0.7)]), parent + 1)
    # writer B stages AND commits from the same parent
    t2 = SnapshotTable(spark, str(tmp_path / "t"))
    d_b, rows_b = t2._write_data(_df(spark, [(8, 80, 0.8)]), parent + 1)
    assert d_a != d_b  # unique dirs: no overwrite of each other's files
    t2._commit(parent, "append", t2._log()[-1]["dirs"] + [d_b], 2)
    # B's committed table is intact regardless of A's staged files
    assert {r.entity_id for r in t2.read().collect()} == {1, 8}
    with pytest.raises(ConcurrentCommit):
        t1._commit(parent, "append", [d_a], rows_a)


def test_snapshot_diff_classes_and_stability(spark, tmp_path):
    """added/removed/changed classification between two pinned
    snapshots, and time-travel stability: commits landing AFTER the
    diff's snapshots must not change its result."""
    from simhash_text_dedup_spark.sources.snapshots import snapshot_diff

    t = SnapshotTable(spark, str(tmp_path / "t"))
    v1 = t.append(_df(spark, [(1, 10, 0.5), (2, 20, 0.6), (3, 30, 0.7)]))
    # v2: entity 2 changed, entity 3 dropped, entity 4 added
    v2 = t.overwrite(
        _df(spark, [(1, 10, 0.5), (2, 99, 0.6), (4, 40, 0.8)])
    )
    d = {
        r.entity_id: r.change
        for r in snapshot_diff(t, v1, v2, ["entity_id"]).collect()
    }
    assert d == {2: "changed", 3: "removed", 4: "added"}
    # unchanged rows (entity 1) never appear
    # a later commit does not disturb the pinned diff
    t.append(_df(spark, [(9, 90, 0.9)]))
    d2 = {
        r.entity_id: r.change
        for r in snapshot_diff(t, v1, v2, ["entity_id"]).collect()
    }
    assert d2 == d


def test_snapshot_diff_value_nulls(spark, tmp_path):
    """Null-safe value comparison: NULL -> value is 'changed', NULL ==
    NULL is unchanged."""
    from simhash_text_dedup_spark.sources.snapshots import snapshot_diff

    rows1 = [(1, None, 0.5), (2, None, 0.6)]
    rows2 = [(1, None, 0.5), (2, 22, 0.6)]
    t = SnapshotTable(spark, str(tmp_path / "t"))
    v1 = t.append(_df(spark, rows1))
    v2 = t.overwrite(_df(spark, rows2))
    d = {
        r.entity_id: r.change
        for r in snapshot_diff(t, v1, v2, ["entity_id"]).collect()
    }
    assert d == {2: "changed"}


def test_snapshot_diff_null_keys_pair_up(spark, tmp_path):
    """A NULL-keyed row present unchanged in both snapshots must NOT
    surface as a spurious added+removed pair (null-safe key join)."""
    from simhash_text_dedup_spark.sources.snapshots import snapshot_diff

    t = SnapshotTable(spark, str(tmp_path / "t"))
    v1 = t.append(_df(spark, [(None, 10, 0.5), (1, 10, 0.5)]))
    v2 = t.overwrite(_df(spark, [(None, 10, 0.5), (1, 99, 0.5)]))
    rows = snapshot_diff(t, v1, v2, ["entity_id"]).collect()
    assert {(r.entity_id, r.change) for r in rows} == {(1, "changed")}


def _jobs_in(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_read_launches_no_job(spark, tmp_path):
    """The snapshot's schema is in the log, so a read infers nothing."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, 10, 0.5), (2, 20, 0.6)]))
    df, n_jobs = _jobs_in(spark, "snap-read", t.read)
    assert n_jobs == 0
    assert df.schema == _df(spark, []).schema


def test_merge_launches_only_the_write_jobs(spark, tmp_path, monkeypatch):
    """merge() runs its write and nothing else: no schema inference of
    the target and no read-back count of the written files."""
    from pyspark.sql.readwriter import DataFrameWriter

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, 10, 0.5), (2, 20, 0.6), (3, 30, 0.7)]))
    sc = spark.sparkContext
    real_parquet = DataFrameWriter.parquet

    def write_in_own_group(self, *args, **kwargs):
        sc.setJobGroup("snap-write", "snap-write")
        try:
            return real_parquet(self, *args, **kwargs)
        finally:
            sc.setJobGroup("snap-merge", "snap-merge")

    monkeypatch.setattr(DataFrameWriter, "parquet", write_in_own_group)
    src = _df(spark, [(2, 99, 0.9), (4, 40, 0.4)])
    _, outside_write = _jobs_in(spark, "snap-merge", lambda: t.merge(src, ["entity_id"]))
    assert outside_write == 0
    assert len(sc.statusTracker().getJobIdsForGroup("snap-write")) > 0
    monkeypatch.undo()
    assert {r.entity_id: r.fingerprint for r in t.read().collect()} == {1: 10, 2: 99, 3: 30, 4: 40}


def test_logged_rows_match_the_data(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, 10, 0.5), (2, 20, 0.6)]))
    t.append(_df(spark, [(3, 30, 0.7)]))
    t.append(_df(spark, []))
    t.overwrite(_df(spark, [(1, 11, 0.5), (5, 50, 0.5)]))
    t.merge(_df(spark, [(1, 12, 0.5), (1, 12, 0.5), (6, 60, 0.6)]), ["entity_id"])
    for snap in t.snapshots():
        assert snap["rows"] == t.read(snap["id"]).count(), snap["op"]


def test_log_without_schema_reads_by_inference(spark, tmp_path):
    """A log written before snapshots recorded their schema still reads."""
    import json

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, 10, 0.5), (2, 20, 0.6)]))
    pinned = t.read()
    log = t.snapshots()
    for entry in log:
        del entry["schema"]
    with open(t._log_path, "w") as f:
        json.dump(log, f)
    inferred = t.read()
    assert inferred.schema == pinned.schema
    assert sorted(inferred.collect()) == sorted(pinned.collect())
