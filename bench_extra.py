#!/usr/bin/env python
"""Supplementary measurement harness for the optimization round.

Not the driver contract (that is bench.py).  This file:

  * times each headline query in isolation with the noop sink
    (guide §1.4), labelled via setJobDescription (guide §1.5),
    N samples each, reporting min/median;
  * optionally dumps `.explain("formatted")` for each query to
    plans/<tag>/<query>_<suffix>.txt (guide §7.2) — the evidence files
    OPTIMIZATION_r06.md cites.

Usage:
  python bench_extra.py                       # time all headline queries
  python bench_extra.py --plans before        # also dump plans/r06/*_before.txt
  python bench_extra.py --only tiered_dedup --samples 5
"""

from __future__ import annotations

import json
import os
import sys
import time

HEADLINE = [
    "tpch_q1",
    "word_count",
    "top_k_per_group",
    "token_stats",
    "embedding_topk",
    "embedding_topk_lsh",
    "exact_dup_groups",
    "simhash_clusters",
    "dup_spans",
    "lm_quality",
    "tiered_dedup",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    samples_n = 3
    plans_tag = None
    only = None
    args = sys.argv[1:]
    if "--samples" in args:
        samples_n = int(args[args.index("--samples") + 1])
    if "--plans" in args:
        plans_tag = args[args.index("--plans") + 1]
    if "--only" in args:
        only = args[args.index("--only") + 1].split(",")

    from simhash_text_dedup_spark.session import get_spark

    # cores: $SPARK_GRAFT_CPUS, else the CPUs this process may use; heap:
    # $SPARK_DRIVER_MEM, else half of physical memory
    spark = get_spark(app="bench-extra")
    cpus = spark.sparkContext.defaultParallelism

    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()
    queries["embedding_topk_lsh"] = entry_mod.q_embedding_topk_lsh

    # same warmup shape as bench.py (frozen contract there): full-width
    # scan+agg of the two headline tables so the first timed query
    # doesn't absorb JVM warmup
    from pyspark.sql import functions as F

    for tbl in ("lineitem", "documents"):
        df = spark.read.parquet(os.path.join(sf_dir, f"{tbl}.parquet"))
        df.select(
            F.max(F.xxhash64(*[F.col(c) for c in df.columns])).alias("h")
        ).write.format("noop").mode("overwrite").save()

    names = only or HEADLINE
    out: dict[str, dict] = {}
    for name in names:
        runs = []
        for i in range(samples_n):
            spark.sparkContext.setJobDescription(f"{name} sample {i}")
            t0 = time.time()
            df = queries[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            runs.append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        if plans_tag:
            pdir = os.path.join("plans", plans_tag.split("_")[0])
            os.makedirs(pdir, exist_ok=True)
            suffix = plans_tag.split("_", 1)[1] if "_" in plans_tag else "plan"
            df = queries[name](spark, sf_dir)
            with open(os.path.join(pdir, f"{name}_{suffix}.txt"), "w") as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        s = sorted(runs)
        out[name] = {
            "runs": runs,
            "min": s[0],
            "median": s[len(s) // 2],
        }
        print(f"[bench_extra] {name}: min={s[0]} med={s[len(s)//2]} {runs}",
              file=sys.stderr, flush=True)
    spark.stop()
    print(json.dumps({"sf": sf_dir, "cpus": cpus, "queries": out}))


if __name__ == "__main__":
    main()
