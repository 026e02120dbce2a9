"""Local replica of the driver's DuckDB-oracle gate: every queries()
entry with an oracle must match the SQL on row count + column names +
order-insensitive values at sf0.01."""

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    return v


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


ORACLES = entry_mod.oracle_sql()


@pytest.mark.parametrize("name", sorted(entry_mod.queries().keys()))
def test_query_vs_oracle(spark, ddb, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, SF_DIR)
    spark_rows = sdf.collect()
    spark_cols = sdf.columns

    if name not in ORACLES:
        # rows-only check (driver's weaker gate): just require it runs
        # deterministically
        again = q(spark, SF_DIR).collect()
        assert _rowset(spark_cols, spark_rows) == _rowset(spark_cols, again)
        return

    res = ddb.execute(ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    sset = _rowset(spark_cols, [tuple(r) for r in spark_rows])
    dset = _rowset(duck_cols, duck_rows)
    mism = [i for i, (a, b) in enumerate(zip(sset, dset)) if a != b]
    assert not mism, f"{name}: first value mismatch at {mism[0]}: {sset[mism[0]]} vs {dset[mism[0]]}"


def test_oracle_types_are_stable(ddb):
    """An oracle column typed HUGEINT or DECIMAL hashes differently from
    Spark's long/double even where the values agree."""
    wide = []
    for name, sql in ORACLES.items():
        rel = ddb.sql(sql)
        wide += [
            (name, col, str(ty))
            for col, ty in zip(rel.columns, rel.types)
            if str(ty).startswith(("HUGEINT", "UHUGEINT", "DECIMAL"))
        ]
    assert not wide


# The driver records only the FIRST 50 queries() entries in
# CORRECTNESS_r{N}.json (dict order is load-bearing — see CLAUDE.md).
# Round 4's verdict flagged that the hash-verified production family had
# drifted past position 50; round 5 reordered. Pin the contract so an
# append/reorder can't silently regress it again.
DRIVER_WINDOW = 50
PRODUCTION_FAMILY = [
    "simhash_fingerprints",
    "simhash_clusters",
    "simhash_clusters_greedy",
    "incremental_round",
    "minhash_pairs",
    "tiered_dedup",
    "semdedup",
    "snapshot_merge",
    "doc_fingerprint_xxhash",
]


def test_driver_window_fully_oracled():
    window = list(entry_mod.queries().keys())[:DRIVER_WINDOW]
    unoracled = [k for k in window if k not in ORACLES]
    assert not unoracled, (
        f"rows-only entries inside the driver's {DRIVER_WINDOW}-entry "
        f"CORRECTNESS window waste hash-verified slots: {unoracled}"
    )


def test_production_family_inside_driver_window():
    window = set(list(entry_mod.queries().keys())[:DRIVER_WINDOW])
    missing = [k for k in PRODUCTION_FAMILY if k not in window]
    assert not missing, (
        f"production-path queries fell out of the driver's "
        f"{DRIVER_WINDOW}-entry CORRECTNESS window: {missing}"
    )


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


# the driver records the first DRIVER_WINDOW entries, in dict order
PINNED_WINDOW = [
    'simhash_fingerprints', 'simhash_clusters',
    'simhash_clusters_greedy', 'incremental_round',
    'doc_fingerprint_xxhash', 'band_join_pairs', 'cc_clusters',
    'greedy_actions', 'radius_sweep', 'cluster_agreement',
    'cluster_size_histogram', 'exact_dup_groups', 'spam_kill_list',
    'incremental_pairs', 'incremental_pairs_banded',
    'incremental_round_lists', 'snapshot_merge', 'snapshot_diff',
    'minhash_pairs', 'minhash_band_pairs', 'incremental_minhash_pairs',
    'containment_pairs', 'substring_lcs', 'substring_verified',
    'edit_distance_pairs', 'embedding_topk_lsh_signbit',
    'embedding_topk_ivf_axes', 'embedding_topk_ivf_disk_axes',
    'embedding_near_pairs', 'semdedup', 'semantic_decontaminate',
    'tiered_dedup', 'tiered_report', 'dup_spans', 'dup_span_strip',
    'decontaminate', 'quality_filter', 'lm_quality', 'lm_quality_ref',
    'leakage_safe_split', 'quality_classifier', 'bloom_prefilter',
    'repo_fork_pairs', 'repo_dedup_actions', 'head_snapshot',
    'repo_context', 'chunk_documents', 'render_formats',
    'bucketed_join', 'scan_filter_project',
]


def test_driver_surface_is_pinned():
    """Deleting code must not shrink or reorder the driver's surface:
    86 entries, every oracle names an entry, the window in order."""
    keys = list(entry_mod.queries().keys())
    assert len(keys) == 86
    assert len(ORACLES) == 83 and set(ORACLES) <= set(keys)
    assert keys[:DRIVER_WINDOW] == PINNED_WINDOW
