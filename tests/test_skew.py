"""Hot-band-bucket skew handling: the salted band join keeps full
recall — checked against a brute-force Hamming scan."""

import pytest
from pyspark.sql import functions as F

from simhash_text_dedup_spark.config import DedupConfig
from simhash_text_dedup_spark.operators.pairs import near_pairs


def _fps(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, fingerprint long")


@pytest.fixture(scope="module")
def hot_bucket_fps(spark):
    """60 distinct fingerprints sharing band 0 (top 16 bits) — a hot
    bucket under cap=10. Pairs (2i, 2i+1) differ in exactly 3 bits
    spread over bands 1..3, so band 0 is their ONLY shared band."""
    import random

    rng = random.Random(99)
    base = 0x4A5B << 48
    rows = []
    for i in range(30):
        # random 48-bit suffixes are ~24 bits apart pairwise — only the
        # planted 3-bit flips form pairs
        fp_a = base | rng.getrandbits(48)
        fp_b = fp_a ^ (1 << 40) ^ (1 << 20) ^ (1 << 5)  # bands 1,2,3
        rows.append((2 * i, _signed(fp_a)))
        rows.append((2 * i + 1, _signed(fp_b)))
    return _fps(spark, rows)


def _signed(u):
    return u - (1 << 64) if u >= (1 << 63) else u


def _hamming(x, y):
    return bin((x ^ y) & ((1 << 64) - 1)).count("1")


def _brute_pairs(rows, k=3):
    """(a_id, b_id, hamming) for every a_id < b_id within k bits — the
    batch domain, scanned in Python."""
    return {
        (a, b, _hamming(fa, fb))
        for a, fa in rows for b, fb in rows
        if a < b and _hamming(fa, fb) <= k
    }


def test_salted_mode_keeps_hot_bucket_pairs(spark, hot_bucket_fps):
    cfg = DedupConfig(band_bucket_cap=10, salt_partitions=4)
    got = {(r.a_id, r.b_id) for r in near_pairs(hot_bucket_fps, cfg).collect()}
    want = {(2 * i, 2 * i + 1) for i in range(30)}
    assert got == want


def test_no_double_count_when_pair_shares_hot_and_cold_bands(spark):
    """A pair sharing a hot band AND a cold band must be emitted once."""
    base = 0x4A5B << 48
    rows = []
    # the hot crowd: 40 singles sharing band 0 only
    for i in range(40):
        rows.append((100 + i, _signed(base | (i << 30) | (i << 10) | i)))
    # the pair: shares band 0 (hot) and band 1; differs 2 bits in bands 2-3
    fp_a = base | (0x1234 << 32) | (0x9 << 20) | 0x3
    fp_b = fp_a ^ (1 << 25) ^ (1 << 7)
    rows += [(1, _signed(fp_a)), (2, _signed(fp_b))]
    fps = _fps(spark, rows)
    cfg = DedupConfig(band_bucket_cap=10, salt_partitions=4)
    got = [(r.a_id, r.b_id) for r in near_pairs(fps, cfg).collect()]
    assert got.count((1, 2)) == 1
    assert set(got) >= {(1, 2)}


def test_salt_matches_unsalted_on_normal_data(spark):
    """With no hot buckets the salted path is inert: exactly the pairs
    of a brute-force scan, each once."""
    import random

    rng = random.Random(3)
    rows = []
    for i in range(200):
        fp = rng.getrandbits(64)
        rows.append((2 * i, _signed(fp)))
        flip = fp ^ (1 << rng.randrange(64))
        rows.append((2 * i + 1, _signed(flip)))
    got = [(r.a_id, r.b_id, r.hamming)
           for r in near_pairs(_fps(spark, rows), DedupConfig()).collect()]
    want = _brute_pairs(rows)
    assert set(got) == want and len(got) == len(want)
    assert len(want) >= 190


def test_incremental_candidate_pairs_salt_routing_parity(spark):
    """The incremental band join routes hot corpus buckets through the
    salted join with the exact pair set of a brute-force scan (routing
    is performance-only)."""
    from simhash_text_dedup_spark.plans.incremental import candidate_pairs

    base = 0x4A5B << 48
    rows = []
    # hot corpus crowd: 40 docs sharing band 0 only
    for i in range(40):
        rows.append((100 + i, _signed(base | (i << 30) | (i << 10) | i)))
    corpus = _fps(spark, rows).select(
        "doc_id", "fingerprint", F.lit(False).alias("is_new"),
        F.lit(True).alias("is_loaded"), F.lit(1.0).alias("score"),
    )
    # new batch: 1-bit mutants of crowd members 3 and 11 (hamming 1,
    # first match = hot band 0) + one unrelated doc
    m3 = _signed((base | (3 << 30) | (3 << 10) | 3) ^ (1 << 2))
    m11 = _signed((base | (11 << 30) | (11 << 10) | 11) ^ (1 << 2))
    new_rows = [(1000, m3), (1001, m11), (1002, _signed(0x1F2E3D4C5B6A0908))]
    new_side = _fps(spark, new_rows).select(
        "doc_id", "fingerprint", F.lit(True).alias("is_new"),
        F.lit(False).alias("is_loaded"), F.lit(2.0).alias("score"),
    )
    all_side = new_side.unionByName(corpus)
    cfg = DedupConfig(band_bucket_cap=10, salt_partitions=4)
    got = [(r.a_id, r.b_id, r.hamming)
           for r in candidate_pairs(new_side, all_side, cfg).collect()]
    # brute force over the incremental domain: new x new once (a < b)
    # plus new x old
    want = _brute_pairs(new_rows) | {
        (a, b, _hamming(fa, fb))
        for a, fa in new_rows for b, fb in rows
        if _hamming(fa, fb) <= 3
    }
    assert set(got) == want          # identical pair set
    assert len(got) == len(want)     # each emitted exactly once
    assert {(1000, 103, 1), (1001, 111, 1)} <= want
