"""Both connected-components strategies must produce identical labels."""

import random

from simhash_text_dedup_spark.operators.cluster import connected_components


def _random_edges(n_verts=300, n_edges=400, seed=5):
    rng = random.Random(seed)
    return [
        (rng.randrange(n_verts) * 7 + 1, rng.randrange(n_verts) * 7 + 1)
        for _ in range(n_edges)
    ]


def test_driver_and_distributed_agree(spark):
    edges = spark.createDataFrame(_random_edges(), "a_id long, b_id long")
    drv = {
        (r.doc_id, r.cluster_id)
        for r in connected_components(edges, driver_threshold=10**9).collect()
    }
    dist = {
        (r.doc_id, r.cluster_id)
        for r in connected_components(edges, driver_threshold=0).collect()
    }
    assert drv == dist
    # labels are min doc_id per component
    by_cluster = {}
    for d, c in drv:
        by_cluster.setdefault(c, []).append(d)
    for c, members in by_cluster.items():
        assert c == min(members)


def test_chain_topology(spark):
    # long chain exercises multiple propagation iterations
    chain = [(i, i + 1) for i in range(1, 40)]
    edges = spark.createDataFrame(chain, "a_id long, b_id long")
    dist = connected_components(edges, driver_threshold=0).collect()
    assert {r.cluster_id for r in dist} == {1}
    assert len(dist) == 40


def test_empty_edges(spark):
    edges = spark.createDataFrame([], "a_id long, b_id long")
    assert connected_components(edges).count() == 0


def _labels(frame):
    return {(r.doc_id, r.cluster_id) for r in frame.collect()}


def test_driver_path_is_one_job(spark):
    """Picking the strategy and fetching the edges is one bounded collect,
    not a count and then a second pass."""
    sc = spark.sparkContext
    # a lazily cut frame over a shuffle, the way Checkpointer.through hands pairs over
    edges = (
        spark.createDataFrame(_random_edges(), "a_id long, b_id long")
        .groupBy("a_id", "b_id").count().select("a_id", "b_id")
        .localCheckpoint(eager=False)
    )
    sc.setJobGroup("cc-driver-path", "cc-driver-path")
    try:
        labels = connected_components(edges)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("cc-driver-path")) == 1
    assert labels.count() > 0


def test_threshold_boundary_picks_the_path(spark, monkeypatch):
    """At exactly driver_threshold edges the driver path runs; one edge
    fewer allowed and the distributed path runs, with the same labels."""
    from simhash_text_dedup_spark.operators import cluster

    rows = sorted(set(_random_edges(n_edges=60)))
    edges = spark.createDataFrame(rows, "a_id long, b_id long")
    calls = []
    real = cluster._driver_union_find
    monkeypatch.setattr(cluster, "_driver_union_find",
                        lambda e: calls.append(len(e)) or real(e))

    drv = _labels(connected_components(edges, driver_threshold=len(rows)))
    assert calls == [len(rows)]
    dist = _labels(connected_components(edges, driver_threshold=len(rows) - 1))
    assert calls == [len(rows)]
    assert drv == dist
