"""Frozen algorithm configuration.

The reference hard-codes its constants across Java files; this module is
the single source of truth for the rebuild (SURVEY.md §7.1).

Reference constants reproduced here:
  - 64-bit fingerprint, 4 bands x 16-bit prefix, Hamming radius 3
    (reference: incload/DeDupMapper.java:27-31, incload/MemTable.java:30-36)
  - exact-duplicate "spam" kill threshold 1000
    (reference: incload/SpamPageGenerate.java:78)
"""

from __future__ import annotations

from dataclasses import dataclass, replace


@dataclass(frozen=True)
class DedupConfig:
    # --- SimHash fingerprint (frozen spec; we own this definition — the
    # reference computed it in an external C++ binary not in the repo).
    shingle_width: int = 3          # overlapping token shingles
    # fingerprint over comment-stripped / whitespace-collapsed content
    # (functions/code_norm.py — the code analog of the reference's URL
    # normalizer chain). content_sha256 stays over the RAW bytes.
    normalize_code: bool = False

    # --- Pigeonhole banding: complete for Hamming <= hamming_k when
    # n_bands > hamming_k (4 bands of 16 bits catch every pair with <= 3
    # differing bits: at least one band is untouched).
    n_bands: int = 4                # incload/MemTable.java:34 (tableCount)
    band_bits: int = 16             # incload/MemTable.java:36 (2^16 buckets)
    hamming_k: int = 3              # incload/DeDupMapper.java:200

    # --- Exact-duplicate flood kill (skew guard + spam semantics).
    spam_threshold: int = 1000      # incload/SpamPageGenerate.java:78

    # --- Connected components (label propagation).
    cc_max_iter: int = 25
    # edge sets at or below this size use driver-side union-find (dedup
    # edge sets are tiny relative to the corpus); above it, distributed
    # min-label propagation. ~16 bytes/edge of driver memory.
    cc_driver_threshold: int = 2_000_000

    # --- Band-bucket skew handling: buckets with more distinct
    # fingerprints (MinHash: rows) than the cap are spread across
    # salt_partitions tasks by operators/skew.salted_join — no recall
    # loss, every band join routes this way. The spam pass removes the
    # dominant source of hot buckets first.
    band_bucket_cap: int = 20000
    salt_partitions: int = 16

    # --- MinHash / LSH borderline path (north_star extension).
    enable_minhash: bool = False
    enable_containment: bool = False
    minhash_perms: int = 128
    minhash_bands: int = 32
    minhash_rows: int = 4           # 32 * 4 == 128
    minhash_shingle_width: int = 3
    jaccard_threshold: float = 0.7

    # --- Suffix-array substring verifier over the same MinHash-band
    # candidates (north_star's third verifier family): a borderline
    # pair is confirmed when the longest common substring covers at
    # least lcs_ratio of the shorter document (containment == 1.0).
    enable_substring: bool = False
    lcs_ratio: float = 0.8

    # --- Selection semantics: 'cc' (parallel connected components,
    # default) or 'greedy' (reference-exact sequential scan per
    # component; incload/SelectLogicReducer.java:56-104).
    selection: str = "cc"

    def with_(self, **kw) -> "DedupConfig":
        return replace(self, **kw)


DEFAULT = DedupConfig()
