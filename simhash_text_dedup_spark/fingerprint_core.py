"""Frozen 64-bit SimHash specification + numpy-vectorized batch kernel.

The reference computes its 64-bit SimHash in an external C++ Hadoop Pipes
binary (``parse_content``) that is not part of the repo (reference:
src/main/resources/jobinfo.xml:198-228; the 8-byte ``simhash`` Avro field
is validated at spider/hbase/mapreduce/ParseResultImporter.java:159-161).
We therefore OWN the fingerprint definition; it is frozen here and used
identically by the Spark pipeline, the tests, and the single-process
reference re-implementation (reference_impl.py).

FROZEN SPEC (do not change without regenerating goldens):
  bytes       = content encoded as UTF-8
  word byte   = [0-9A-Za-z_] or any byte >= 0x80
  tokens      = maximal runs of word bytes (case-sensitive)
  token hash  = splitmix64( polynomial hash of the token bytes ):
                poly = sum_i byte_i * M^(L-1-i)  mod 2^64,
                M = 0x100000001B3 (FNV-64 prime)
  shingles    = overlapping windows of `width` tokens; if
                0 < len(tokens) < width, one shingle = all tokens;
                if len(tokens) == 0 the fingerprint is 0.
  shingle hash= acc = SEED; for each token hash h in the shingle:
                acc = splitmix64(acc XOR h)           # order-sensitive
  weight      = 1 per shingle OCCURRENCE (frequency weighting arises
                from summing over all occurrences)
  bit b       = 1 iff sum over shingles of (2*bit_b(hash)-1) > 0
                (tie -> 0); b = 0 is the least-significant bit.
  output      = the 64-bit word reinterpreted as a SIGNED int64
                (Spark LongType).

Everything is integer arithmetic mod 2^64, so the batch kernel is pure
numpy over flat byte/uint64 arrays — no Python string objects, no
per-token hashing loop.  (An earlier revision tokenized with `re` into
Python strings and blake2b-hashed a vocabulary; allocator churn made it
degrade ~9x under 32-way concurrency.  The polynomial hash is
prefix-computable: with S[i] = cumsum(byte_j * Minv^j) the hash of span
[s, e) is (S[e-1] - S[s-1]) * M^(e-1), two gathers per token.)

Two implementations:
  * ``simhash_one``  — direct, loop-based: the executable specification.
  * ``simhash_batch``— numpy-vectorized, property-tested equal to it.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np

SEED = np.uint64(0x9E3779B97F4A7C15)
FNV_PRIME = 0x100000001B3
FNV_PRIME_INV = pow(FNV_PRIME, -1, 1 << 64)

# word-byte lookup table: [0-9A-Za-z_] plus every byte >= 0x80
WORD_BYTE = np.zeros(256, dtype=bool)
for _b in range(256):
    _c = chr(_b)
    WORD_BYTE[_b] = _c.isalnum() and _b < 0x80 or _c == "_" or _b >= 0x80


# ----------------------------------------------------------------------
# splitmix64 finalizer (public-domain constant set, Steele et al. 2014)
# ----------------------------------------------------------------------
def _splitmix64_py(x: int) -> int:
    x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    z = x
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return z ^ (z >> 31)


def _splitmix64_np(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 over a uint64 array (wrapping arithmetic)."""
    with np.errstate(over="ignore"):
        x = x + np.uint64(0x9E3779B97F4A7C15)
        z = x
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


# ----------------------------------------------------------------------
# Executable specification (slow, obvious, pure Python)
# ----------------------------------------------------------------------
def tokenize(text: str) -> list[bytes]:
    """Maximal runs of word bytes in the UTF-8 encoding."""
    data = text.encode("utf-8")
    toks, cur = [], bytearray()
    for b in data:
        if WORD_BYTE[b]:
            cur.append(b)
        elif cur:
            toks.append(bytes(cur))
            cur = bytearray()
    if cur:
        toks.append(bytes(cur))
    return toks


def token_hash(token: bytes | str) -> int:
    if isinstance(token, str):
        token = token.encode("utf-8")
    poly = 0
    for b in token:
        poly = (poly * FNV_PRIME + b) & 0xFFFFFFFFFFFFFFFF
    return _splitmix64_py(poly)


def shingle_hash(token_hashes: Sequence[int]) -> int:
    acc = int(SEED)
    for h in token_hashes:
        acc = _splitmix64_py(acc ^ h)
    return acc


def simhash_one(text: str, width: int = 3) -> int:
    """SimHash of one document per the frozen spec. Returns signed int64."""
    hs = [token_hash(t) for t in tokenize(text)]
    if not hs:
        return 0
    if len(hs) < width:
        shingles = [shingle_hash(hs)]
    else:
        shingles = [shingle_hash(hs[i : i + width]) for i in range(len(hs) - width + 1)]
    acc = [0] * 64
    for sh in shingles:
        for b in range(64):
            acc[b] += 1 if (sh >> b) & 1 else -1
    fp = 0
    for b in range(64):
        if acc[b] > 0:
            fp |= 1 << b
    return fp - (1 << 64) if fp >= (1 << 63) else fp


# ----------------------------------------------------------------------
# Vectorized batch kernel (the production path inside the pandas UDF)
# ----------------------------------------------------------------------
# inner chunk size: bounds the prefix arrays (3 x uint64 x buffer bytes)
# so each worker's live set stays CACHE-resident at high concurrency.
# Swept empirically on the 32-core sandbox: 64 docs (~220 KB text ->
# ~5 MB arrays) is 2x faster than 512 and scales 2->8 procs at ~0.9
# per-core efficiency (512 drops to ~0.6 — the arrays stream via DRAM).
CHUNK_DOCS = 64


# position-only power tables M^j / M^-j (mod 2^64), grown on demand and
# reused across chunks: recomputing the two cumprods per chunk was 2 of
# the kernel's 4 sequential full-buffer array passes, pure DRAM traffic
# on a bandwidth-bound stage (CLAUDE.md rule 7).  Values depend only
# on the index, so a prefix view of the cached array is bit-identical
# to the per-chunk cumprod it replaces.  Python workers are
# single-threaded processes; the cache is per-worker.
_PW_CACHE = np.ones(1, dtype=np.uint64)
_IPW_CACHE = np.ones(1, dtype=np.uint64)


def _power_tables(n: int) -> tuple[np.ndarray, np.ndarray]:
    global _PW_CACHE, _IPW_CACHE
    if len(_PW_CACHE) < n:
        size = max(n, 2 * len(_PW_CACHE))
        pw = np.empty(size, dtype=np.uint64)
        ipw = np.empty(size, dtype=np.uint64)
        pw[0] = 1
        ipw[0] = 1
        with np.errstate(over="ignore"):
            np.cumprod(np.full(size - 1, FNV_PRIME, dtype=np.uint64), out=pw[1:])
            np.cumprod(
                np.full(size - 1, FNV_PRIME_INV, dtype=np.uint64), out=ipw[1:]
            )
        _PW_CACHE, _IPW_CACHE = pw, ipw
    return _PW_CACHE[:n], _IPW_CACHE[:n]


# reusable uint64 scratch buffers (grown on demand, per worker): the
# per-chunk temporaries are 0.3-1.8 MB, above glibc's mmap threshold,
# so allocating them fresh each chunk made the kernel pay an
# mmap+page-zero round trip per buffer per chunk — one extra full
# write pass over every buffer on a DRAM-bound stage (measured ~8%
# at 8-way concurrency via MALLOC_MMAP_THRESHOLD_; buffer reuse gets
# the same win without depending on allocator tunables).
_SCRATCH: dict[str, np.ndarray] = {}


def _scratch(name: str, n: int) -> np.ndarray:
    buf = _SCRATCH.get(name)
    if buf is None or len(buf) < n:
        size = n if buf is None else max(n, 2 * len(buf))
        buf = np.empty(size, dtype=np.uint64)
        _SCRATCH[name] = buf
    return buf[:n]


def _splitmix64_inplace(z: np.ndarray, tmp: np.ndarray) -> np.ndarray:
    """splitmix64 over uint64 array ``z`` IN PLACE (``tmp``: same-length
    uint64 scratch) — the allocation-free twin of _splitmix64_np; the
    operation sequence (and therefore every wrapped intermediate) is
    identical, so outputs are bit-equal."""
    with np.errstate(over="ignore"):
        z += np.uint64(0x9E3779B97F4A7C15)
        np.right_shift(z, np.uint64(30), out=tmp)
        z ^= tmp
        z *= np.uint64(0xBF58476D1CE4E5B9)
        np.right_shift(z, np.uint64(27), out=tmp)
        z ^= tmp
        z *= np.uint64(0x94D049BB133111EB)
        np.right_shift(z, np.uint64(31), out=tmp)
        z ^= tmp
    return z


def _token_hashes_chunk(texts: Sequence) -> tuple[np.ndarray, np.ndarray]:
    """Flat (token_hashes uint64, token_doc int64) for <= CHUNK_DOCS texts.
    Accepts str or pre-encoded utf-8 bytes per document (the Spark UDF
    encodes JVM-side and ships binary, skipping a Python copy)."""
    bufs = [t if isinstance(t, (bytes, bytearray)) else t.encode("utf-8") for t in texts]
    joined = b"\x00".join(bufs)
    if not joined:
        return np.empty(0, np.uint64), np.empty(0, np.int64)
    arr = np.frombuffer(joined, dtype=np.uint8)
    mask = WORD_BYTE[arr]

    d = np.diff(mask.astype(np.int8), prepend=np.int8(0), append=np.int8(0))
    starts = np.flatnonzero(d == 1)
    ends = np.flatnonzero(d == -1)
    if len(starts) == 0:
        return np.empty(0, np.uint64), np.empty(0, np.int64)

    n = len(arr)
    with np.errstate(over="ignore"):
        # pw[j] = M^j, ipw[j] = M^-j (mod 2^64) — cached position-only
        # tables, no per-chunk cumprod passes
        pw, ipw = _power_tables(n)
        # S[i] = sum_{j<=i} byte_j * M^-j — multiply + cumsum into one
        # reused scratch buffer (same wrapping arithmetic, no temps)
        S = _scratch("S", n)
        np.multiply(arr, ipw, out=S)
        np.cumsum(S, out=S)
        # poly of [s, e) = (S[e-1] - S[s-1]) * M^(e-1)
        left = np.where(starts > 0, S[starts - 1], np.uint64(0))
        poly = (S[ends - 1] - left) * pw[ends - 1]
        th = _splitmix64_inplace(poly, _scratch("tmp", len(poly)))

    # doc index per token: doc i occupies [off[i], off[i]+len_i)
    lens = np.fromiter((len(b) for b in bufs), dtype=np.int64, count=len(bufs))
    doc_starts = np.concatenate(([0], np.cumsum(lens + 1)))[:-1]
    token_doc = np.searchsorted(doc_starts, starts, side="right") - 1
    return th, token_doc


def shingle_hashes_batch(
    texts: Sequence[str], width: int = 3
) -> tuple[np.ndarray, np.ndarray, int]:
    """All shingle hashes for a batch, flattened.

    Returns (hashes uint64[m], doc_index int64[m], n_docs), doc_index
    nondecreasing.  Zero-token documents contribute no shingles; short
    documents (< width tokens) contribute one shingle over all tokens.
    """
    n_docs = len(texts)
    out_h: list[np.ndarray] = []
    out_d: list[np.ndarray] = []
    for c0 in range(0, n_docs, CHUNK_DOCS):
        chunk = texts[c0 : c0 + CHUNK_DOCS]
        th, tdoc = _token_hashes_chunk(chunk)
        m = len(th)
        if m == 0:
            continue
        counts = np.bincount(tdoc, minlength=len(chunk))
        starts = np.concatenate(([0], np.cumsum(counts)))[:-1]

        # full-width shingles on the flat array
        if m >= width:
            L = m - width + 1
            valid = tdoc[:L] == tdoc[width - 1 :]
            with np.errstate(over="ignore"):
                # scratch-backed fold: xor + splitmix run in place (the
                # boolean index below copies, so reuse is safe)
                acc = _scratch("acc", L)
                acc[:] = SEED
                tmp = _scratch("tmp", L)
                for k in range(width):
                    np.bitwise_xor(acc, th[k : L + k], out=acc)
                    _splitmix64_inplace(acc, tmp)
            sh_full = acc[valid]
            sh_doc = tdoc[: m - width + 1][valid]
        else:
            sh_full = np.empty(0, np.uint64)
            sh_doc = np.empty(0, np.int64)

        # short docs: one shingle over all tokens
        short = np.nonzero((counts > 0) & (counts < width))[0]
        if len(short):
            sh_s = np.empty(len(short), dtype=np.uint64)
            with np.errstate(over="ignore"):
                for idx, dd in enumerate(short):
                    a = SEED
                    for h in th[starts[dd] : starts[dd] + counts[dd]]:
                        a = _splitmix64_np(np.uint64(a) ^ h)
                    sh_s[idx] = a
            hashes = np.concatenate([sh_full, sh_s])
            docix = np.concatenate([sh_doc, short.astype(np.int64)])
            order = np.argsort(docix, kind="stable")
            hashes, docix = hashes[order], docix[order]
        else:
            hashes, docix = sh_full, sh_doc
        out_h.append(hashes)
        out_d.append(docix + c0)
    if not out_h:
        return np.empty(0, np.uint64), np.empty(0, np.int64), n_docs
    return np.concatenate(out_h), np.concatenate(out_d), n_docs


def simhash_batch(texts: Sequence[str], width: int = 3) -> np.ndarray:
    """SimHash for a batch of documents. Returns int64[n] (signed view).

    Bit accumulation: per-document unpackbits + column sum keeps each
    (segment, 64) bit matrix cache-resident — robust under many-core
    memory contention (a global unpackbits+reduceat collapsed ~100x at
    32-way concurrency)."""
    hashes, docix, n_docs = shingle_hashes_batch(texts, width)
    if n_docs == 0:
        return np.empty(0, dtype=np.int64)
    fp = np.zeros(n_docs, dtype=np.uint64)
    m = len(hashes)
    if m:
        uniq, starts = np.unique(docix, return_index=True)
        ends = np.append(starts[1:], m)
        seg_sizes = ends - starts
        byte_view = hashes.view(np.uint8).reshape(-1, 8)
        ones = np.empty((len(uniq), 64), dtype=np.int64)
        for i in range(len(uniq)):
            seg = np.unpackbits(
                byte_view[starts[i] : ends[i]], axis=1, bitorder="little"
            )
            ones[i] = seg.sum(axis=0, dtype=np.int64)
        set_bits = (2 * ones) > seg_sizes[:, None]
        packed = np.packbits(
            set_bits.astype(np.uint8), axis=1, bitorder="little"
        ).copy()
        fp[uniq] = packed.view(np.uint64).ravel()
    return fp.view(np.int64)


# ----------------------------------------------------------------------
# Band keys (pigeonhole block permutation)
# ----------------------------------------------------------------------
def band_keys(fp: int, n_bands: int = 4, band_bits: int = 16) -> list[int]:
    """Band i = bits [48-16i, 64-16i) of the fingerprint, i.e. big-endian
    byte pairs — matching the reference's byte-permutation layout
    (incload/DeDupMapper.java:169-184, MemTable.java:193-206)."""
    u = fp & 0xFFFFFFFFFFFFFFFF
    total = n_bands * band_bits
    assert total == 64
    return [
        (u >> (total - band_bits * (i + 1))) & ((1 << band_bits) - 1)
        for i in range(n_bands)
    ]


def hamming(a: int, b: int) -> int:
    """popcount(a XOR b) — reference's early-exit Kernighan loop
    (incload/DeDupMapper.java:262-280) without the early exit."""
    return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")
