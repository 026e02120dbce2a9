#!/usr/bin/env python3
"""Steady-state benchmark of the SimHash dedup pipeline.

    python3 perfbench/run.py --workload batch_code|incremental --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout.  Inputs come from the seed and are cached
under .perfbench_cache/; all Spark scratch goes under .perfbench_work/.  Each
run starts one Spark session at local[nproc] through `session.get_spark`,
loads its inputs, and runs the workload closed loop (one pass at a time)
through untimed passes until the JVM has warmed up; the run record keeps
each warm pass's wall and CPU.  The JVM runs with C1 only (see JIT_OPTS).
Then:

  --trace 0  times passes for S seconds (at least MIN_TIMED) and reports
             setup_s      session start, input load and warm passes; input
                          generation is outside it on every run
             docs_per_s   docs handled per second of pass wall, fastest pass
             cpu_s        CPU seconds per pass of the driver, the JVM and its
                          Python workers, least of the passes
             peak_rss_mb  peak PSS of the JVM plus its workers over the run;
                          the heap is fixed (-Xms = -Xmx), so the JVM's share
                          reads near the heap size and the metric moves with
                          off-heap and Python-worker memory
             pass_ratio   passes whose output check passed / passes run
  --trace 1  alternates untraced and traced passes and reports the
             per-layer metrics BENCHMARK.json declares (0 for a layer the
             workload does not run).

Every pass's outputs are checked after the timed loop.  The second-to-last
stdout line is the run record (host, warm-pass trajectory, every pass); the
last line is the result object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

import procstat
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Input size per workload; the incremental batch is a tenth of this base.
# At this size a pass is mostly per-job Spark work, so a run of about a
# minute holds enough passes for a steady figure.
N_DOCS = {"batch_code": 2000, "incremental": 2000}
# The JVM compiles with C1 only.  With the default tiered JIT, per-pass JVM
# CPU keeps falling for ~8-10 passes while C2 compiles (~50 s of incremental
# passes), so a run could not reach a level state and still time enough
# passes; with C1 alone it falls ~2x over the first three passes and little
# after.  C1 code is slower than C2 code, so JVM-side work reads slower than
# in a long-lived session.  C1-only mode shrinks the default code cache to
# 48 MB, which fills after ~5 passes and flushes, so it is set back to the
# tiered default.
JIT_OPTS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"
# Untimed passes before timing: at least WARM_MIN, then more until per-pass
# JVM CPU falls less than LEVEL from the pass before, at most WARM_MAX.
# Per-pass JVM CPU falls ~2x over the first two passes and 10-20% more by
# the third; the fourth reads within a few percent of the third.
WARM_MIN, WARM_MAX = 3, 5
LEVEL = 0.15
# Timed passes per run, at least, whatever --seconds is.  docs_per_s and
# cpu_s come from the least-disturbed pass, as timeit reports the fastest
# repeat: on a shared VM, other guests' load only ever adds to a pass.  On a
# 4-vCPU shared VM a pass's wall grew by ~1.5 s per CPU-second per second of
# host steal during it, and the steal changes from one pass to the next.
# Over 18 batch_code runs under changing load, the spread (IQR / median)
# across runs was 0.34 for the median pass and 0.20 for the fastest; over 10
# runs under even load both read 0.22.  Each pass's host steal is kept in the
# run record.  An incremental pass takes ~5.5 s, so its runs time three
# passes; more would not fit the runs of both workloads in the time the
# benchmark is given.
MIN_TIMED = 3
TRACED_PAIRS = 2  # untraced + traced passes in a --trace 1 run
CORE_SAMPLE = 2000  # docs in the single-core fingerprint kernel sample

# span name -> the metric holding its self time
SPAN_METRIC = {
    "sources.read": "sources.read_s",
    "sources.merge": "sources.merge_s",
    "fingerprint": "fingerprint.wall_s",
    "spam": "spam.wall_s",
    "pairs": "pairs.wall_s",
    "cluster": "cluster.wall_s",
    "selection": "selection.wall_s",
    "incremental.unload": "incremental.unload_s",
    "incremental.candidates": "incremental.candidates_s",
    "incremental.losers": "incremental.losers_s",
    "sink": "sink.wall_s",
}


def declared(section: str) -> dict[str, str]:
    """{metric: unit} of a BENCHMARK.json section ('end_to_end', 'per_layer')."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(N_DOCS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def heap_mb(mem_total_mb: float) -> int:
    """Driver heap: a sixth of physical memory, at most 2 GiB.  It is also
    the initial heap: a heap G1 resizes as it goes made peak memory spread
    by ~20% between runs."""
    return int(max(512, min(2048, mem_total_mb / 6)))


def start_session(work: str, cores: int, event_log: str | None):
    """get_spark, with every file Spark and its workers write kept under work."""
    from simhash_text_dedup_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # keep the launcher's and the driver's hsperfdata out of the system temp dir
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    heap = heap_mb(procstat.mem_total_mb())
    extra = {
        "spark.driver.memory": f"{heap}m",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Xms{heap}m {JIT_OPTS} -XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            # tracing.event_log_groups reads the rolling layout
            "spark.eventLog.rolling.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
        })
    t0 = time.monotonic()
    spark = get_spark(app="perfbench", cores=cores, extra=extra)
    return spark, time.monotonic() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers) to end."""
    from pyspark import SparkContext

    try:
        spark.stop()
    except Exception:  # the gateway connection broke, e.g. under a signal
        traceback.print_exc()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def timed_call(fn):
    """(result or None, wall, cpu delta by process kind, error text or None)."""
    c0, t0 = procstat.cpu_seconds(), time.monotonic()
    try:
        out, err = fn(), None
    except Exception:
        out, err = None, traceback.format_exc()
        print(err, file=sys.stderr)
    wall = time.monotonic() - t0
    c1 = procstat.cpu_seconds()
    return out, wall, {k: c1[k] - c0[k] for k in c0}, err


def levelled(jvm_cpu: list[float]) -> bool:
    """Whether the last pass's JVM CPU fell less than LEVEL from the one before."""
    return len(jvm_cpu) >= 2 and jvm_cpu[-1] >= (1 - LEVEL) * jvm_cpu[-2]


def warm_up(wl) -> dict:
    """Untimed passes until levelled (see WARM_MIN); their wall and CPU go
    into the run record."""
    passes = []
    while len(passes) < WARM_MAX:
        _, wall, cpu, err = timed_call(wl.run_pass)
        passes.append({"wall_s": wall, "jvm_cpu_s": cpu["jvm"], "py_cpu_s": cpu["py"],
                       "driver_cpu_s": cpu["driver"], "error": err is not None})
        if len(passes) >= WARM_MIN and levelled([p["jvm_cpu_s"] for p in passes]):
            break
    return {"passes": passes, "levelled": levelled([p["jvm_cpu_s"] for p in passes])}


def check_passes(wl, outputs: list) -> list[list[str]]:
    """Problems per pass; a pass that raised has output None."""
    first = next((o for o in outputs if o is not None), None)
    if first is None:
        return [["pass raised"] for _ in outputs]
    checker = wl.checker(first)
    return [["pass raised"] if o is None else checker.problems(o) for o in outputs]


def end_to_end(wl, seconds: float) -> tuple[dict, list[dict], list]:
    passes, outputs = [], []
    t0 = time.monotonic()
    while len(passes) < MIN_TIMED or time.monotonic() - t0 < seconds:
        steal0 = procstat.steal_s()
        out, wall, cpu, err = timed_call(wl.run_pass)
        passes.append({"wall_s": wall, "host_steal_s": procstat.steal_s() - steal0,
                       **{f"{k}_cpu_s": v for k, v in cpu.items()}})
        outputs.append(out)
    metrics = {
        "docs_per_s": max(wl.n_docs / p["wall_s"] for p in passes),
        "cpu_s": min(p["driver_cpu_s"] + p["jvm_cpu_s"] + p["py_cpu_s"] for p in passes),
    }
    return metrics, passes, outputs


def fingerprint_core_rate(wl, fps) -> tuple[float, list[str]]:
    """Single-core simhash_batch rate on the workload's first docs, and
    whether it is bit-equal to the pipeline's fingerprints for them."""
    import pandas as pd
    from simhash_text_dedup_spark.fingerprint_core import simhash_batch

    import workloads

    docs = pd.read_parquet(wl.docs_path).head(CORE_SAMPLE)
    texts = docs.content.tolist()
    times, got = [], None
    for _ in range(3):
        t0 = time.monotonic()
        got = simhash_batch(texts, width=workloads.CFG.shingle_width)
        times.append(time.monotonic() - t0)
    ids = workloads.doc_ids(wl.spark, docs)
    want = dict(zip(fps.doc_id.tolist(), fps.fingerprint.tolist()))
    bad = sum(want.get(int(i)) != int(f) for i, f in zip(ids.tolist(), got.tolist()))
    problems = [f"simhash_batch differs from the pipeline on {bad} docs"] if bad else []
    return len(texts) / statistics.median(times), problems


def traced(wl, spark, session_s: float) -> tuple[dict, dict, list, list[str]]:
    """Alternate untraced and traced passes; per-layer metrics from the traced."""
    untraced, per_pass, outputs = [], [], []
    for i in range(TRACED_PAIRS):
        out, wall, _, _ = timed_call(wl.run_pass)
        untraced.append(wall)
        outputs.append(out)
        tr = tracing.Tracer(spark.sparkContext, group_prefix=f"t{i}:")
        try:
            out, counts = wl.traced_pass(tr)
        except Exception:
            print(traceback.format_exc(), file=sys.stderr)
            out, counts = None, {}
        outputs.append(out)
        if out is not None:
            per_pass.append(layer_metrics(tr, counts))
    # a layer the workload does not run reads 0
    metrics = {
        k: statistics.median(m.get(k, 0.0) for m in per_pass) if per_pass else 0.0
        for k in declared("per_layer")
    }
    metrics["session.start_s"] = session_s
    problems = []
    if per_pass:
        traced_fps = next(o for o in outputs[1::2] if o is not None)["fps"]
        metrics["fingerprint_core.docs_per_s"], problems = fingerprint_core_rate(wl, traced_fps)
        metrics["trace.overhead_s"] = (
            statistics.median(m["trace.wall_s"] for m in per_pass) - statistics.median(untraced)
        )
    record = {"untraced_wall_s": untraced, "traced": per_pass, "layers_run": list(wl.layers)}
    return metrics, record, outputs, problems


def layer_metrics(tr, counts: dict) -> dict:
    """Self time of each layer span under the pass root, plus the counts."""
    m = dict(counts)
    spans = tr.by_name()
    root = tr.spans.index(spans["pass"])
    selfs = tr.self_times()
    for j, (name, secs) in enumerate(selfs):
        if tr.spans[j].parent == root:
            m[SPAN_METRIC[name]] = secs
    fp = spans["fingerprint"]
    m["fingerprint.py_cpu_s"] = fp.cpu1["py"] - fp.cpu0["py"]
    m["fingerprint.jvm_cpu_s"] = fp.cpu1["jvm"] - fp.cpu0["jvm"]
    m["trace.wall_s"] = spans["pass"].wall
    m["trace.unaccounted_s"] = selfs[root][1]
    m["trace.layers_s"] = m["trace.wall_s"] - m["trace.unaccounted_s"]
    return m


def add_event_log(metrics: dict, n_traced: int, event_dir: str, layers) -> tuple[dict, list[str]]:
    """Shuffle MB and task skew per layer, median over the traced passes, and
    the traced layers the event log holds no jobs for."""
    groups = tracing.event_log_groups(event_dir)
    missing = [
        f"no jobs of t{i}:{layer} in the event log"
        for i in range(n_traced) for layer in layers if f"t{i}:{layer}" not in groups
    ]

    def per_pass(layer: str, key: str) -> list[float]:
        return [groups.get(f"t{i}:{layer}", {}).get(key, 0.0) for i in range(n_traced)]

    for layer in ("spam", "pairs"):
        metrics[f"{layer}.shuffle_mb"] = statistics.median(per_pass(layer, "shuffle_mb"))
    metrics["pairs.task_skew"] = statistics.median(per_pass("pairs", "task_skew"))
    inc = ("incremental.unload", "incremental.candidates", "incremental.losers")
    metrics["incremental.shuffle_mb"] = statistics.median(
        sum(v) for v in zip(*(per_pass(layer, "shuffle_mb") for layer in inc))
    )
    metrics["incremental.task_skew"] = statistics.median(per_pass("incremental.candidates", "task_skew"))
    return groups, missing


def main(argv=None) -> int:
    args = _parse(argv)
    # a SIGTERM unwinds through the finally below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    import simhash_text_dedup_spark

    pkg = os.path.dirname(os.path.abspath(simhash_text_dedup_spark.__file__))
    if os.path.dirname(pkg) != ROOT:
        sys.exit(f"the program under test must come from this checkout, not {pkg}")

    import inputs
    import workloads

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "host": {"nproc": cores, "mem_total_mb": procstat.mem_total_mb(), "before": procstat.host_load()},
    }
    input_dir, record["gen_s"] = inputs.ensure(
        os.path.join(ROOT, ".perfbench_cache"), args.workload, args.seed, N_DOCS[args.workload]
    )
    event_dir = os.path.join(work, "events") if args.trace else None
    spark = None
    try:
        with procstat.PeakRss() as rss:
            t_setup = time.monotonic()
            spark, session_s = start_session(work, cores, event_dir)
            wl = workloads.WORKLOADS[args.workload](spark, input_dir, args.seed, work)
            record["warm"] = warm_up(wl)
            setup_s = time.monotonic() - t_setup
            if args.trace:
                metrics, record["trace"], outputs, extra_problems = traced(wl, spark, session_s)
                units = declared("per_layer")
            else:
                metrics, record["passes"], outputs = end_to_end(wl, args.seconds)
                extra_problems = []
                units = declared("end_to_end")
            problems = check_passes(wl, outputs)
            stop_session(spark)
            spark = None
        if args.trace:
            n = len(record["trace"]["traced"])
            record["trace"]["event_log_groups"], missing = add_event_log(metrics, n, event_dir, wl.spark_layers)
            extra_problems += missing
        failed = sum(bool(p) for p in problems)
        metrics.update({
            "setup_s": setup_s,
            "peak_rss_mb": rss.peak_mb,
            "pass_ratio": (len(problems) - failed) / len(problems),
        })
        record.update({
            "setup_s": setup_s, "session_start_s": session_s, "peak_mb_by_kind": rss.at_peak,
            "problems": problems + ([extra_problems] if extra_problems else []),
            "host_after": procstat.host_load(),
        })
        # CPU the hypervisor gave other guests during the run, summed over
        # CPUs: the main source of run-to-run spread on a shared host
        record["steal_s"] = record["host_after"]["steal_s"] - record["host"]["before"]["steal_s"]
        print(json.dumps({"perfbench_run": record}, default=float))
        result = {
            "correct": failed == 0 and not extra_problems,
            "attempted": len(problems),
            "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
        }
        print(json.dumps(result))
        return 0
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:  # another run's work dir is still there
                pass


if __name__ == "__main__":
    sys.exit(main())
