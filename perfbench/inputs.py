"""Seeded workload inputs, generated once per (workload, seed, size) and cached.

Generation runs before the benchmark starts its set-up clock on every run, so
`setup_s` never includes it, whether or not the cache already held the inputs.
The same seed and size give byte-identical parquet files on any host: the
corpus is cut into a fixed four blocks whatever the core count.
"""

from __future__ import annotations

import os
import random
import shutil
import time

import pandas as pd

from simhash_text_dedup_spark.sources.corpus import CorpusSpec, generate_corpus_parallel

VERSION = 1
SPAM_THRESHOLD = 5  # the generator's flood families hold threshold + 3 copies
BLOCKS = 4
FILES = 4  # parquet files per table: one scan partition per core on local[4]


def _corpus(seed: int, n_docs: int) -> pd.DataFrame:
    docs, _ = generate_corpus_parallel(
        CorpusSpec(n_docs=n_docs, seed=seed, spam_threshold=SPAM_THRESHOLD),
        block_docs=-(-n_docs // BLOCKS),
        n_workers=min(BLOCKS, os.cpu_count() or 1),
    )
    return docs


def _write(df: pd.DataFrame, path: str) -> None:
    os.makedirs(path)
    step = -(-len(df) // FILES)
    for i in range(FILES):
        df.iloc[i * step:(i + 1) * step].to_parquet(
            os.path.join(path, f"part-{i:05d}.parquet"), index=False
        )


def _batch_code(seed: int, n_docs: int, out: str) -> None:
    _write(_corpus(seed, n_docs), os.path.join(out, "docs"))


def _edit(rng: random.Random, content: str) -> str:
    lines = content.split("\n")
    at = rng.randrange(len(lines))
    lines.insert(at, f"edited_{rng.getrandbits(32):08x} = {rng.randint(0, 999)};")
    return "\n".join(lines)


def _incremental(seed: int, n_base: int, out: str) -> None:
    """A stored base corpus and a new crawl batch a tenth its size.

    The batch is four equal parts, each drawn from distinct base documents
    with distinct content:
      unchanged  same repo/path and bytes, new commit  -> must land in unload
      edited     same repo/path, one inserted line, new commit
      copy       same bytes under a new path, a score below every base
                 score                                 -> must land in delete
      fresh      documents the base never held
    """
    n_batch = n_base // 10
    per = n_batch // 4
    pool = _corpus(seed, n_base + per)
    rng = random.Random(seed * 7919 + 1)
    base = pool.iloc[:n_base].copy()
    base["score"] = [0.5 + rng.random() / 2 for _ in range(n_base)]

    sources, seen = [], set()
    for i in rng.sample(range(n_base), n_base):
        content = base.content.iat[i]
        if content not in seen:
            seen.add(content)
            sources.append(i)
        if len(sources) == 3 * per:
            break
    rows = []
    for j, i in enumerate(sources):
        row = base.iloc[i].to_dict()
        row["commit"] = "%040x" % rng.getrandbits(160)
        role = ("unchanged", "edited", "copy")[j // per]
        if role == "edited":
            row["content"] = _edit(rng, row["content"])
        elif role == "copy":
            row["path"] = f"mirror/{j}/{row['path']}"
            row["score"] = rng.random() / 2
        rows.append({**row, "role": role})
    for i in range(n_base, n_base + per):
        rows.append({**pool.iloc[i].to_dict(), "score": rng.random(), "role": "fresh"})
    batch = pd.DataFrame(rows).sample(frac=1.0, random_state=seed % 2**32)
    _write(base, os.path.join(out, "base"))
    _write(batch.drop(columns="role"), os.path.join(out, "batch"))
    batch[["repo", "path", "commit", "role"]].to_parquet(
        os.path.join(out, "roles.parquet"), index=False
    )


_GENERATORS = {"batch_code": _batch_code, "incremental": _incremental}


def ensure(cache_root: str, workload: str, seed: int, n_docs: int) -> tuple[str, float]:
    """(input dir, seconds spent generating; 0.0 on a cache hit)."""
    path = os.path.join(cache_root, f"{workload}-v{VERSION}-seed{seed}-n{n_docs}")
    if os.path.isdir(path):
        return path, 0.0
    t0 = time.monotonic()
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        _GENERATORS[workload](seed, n_docs, tmp)
        os.replace(tmp, path)  # a killed run never leaves a half-written entry
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path, time.monotonic() - t0
