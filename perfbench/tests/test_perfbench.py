"""Tests of the benchmark itself: tiny runs of each workload, the output
checks against corrupted results, and the span-tree accounting.

    python -m pytest perfbench/tests -q
"""

import json
import os
import shutil
import subprocess
import sys
import time

import pandas as pd
import pytest

import inputs
import run
import tracing
import workloads
from conftest import BENCH

ROOT = os.path.dirname(BENCH)
TINY = 400


def test_span_self_times_sum_to_traced_wall():
    tr = tracing.Tracer()
    with tr.span("pass"):
        with tr.span("fingerprint"):
            time.sleep(0.02)
        with tr.span("pairs"):
            time.sleep(0.01)
        time.sleep(0.005)
    selfs = tr.self_times()
    assert sum(s for _, s in selfs) == pytest.approx(tr.by_name()["pass"].wall, abs=1e-9)
    m = run.layer_metrics(tr, {})
    assert set(run.SPAN_METRIC.values()) <= set(run.declared("per_layer"))
    assert m["trace.layers_s"] + m["trace.unaccounted_s"] == pytest.approx(m["trace.wall_s"])
    assert m["trace.unaccounted_s"] >= 0.005


def test_event_log_groups(tmp_path):
    def task(stage, ms, shuffle):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
            "Executor Run Time": ms, "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}}}

    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "t0:pairs"}},
        task(0, 10, 2**20), task(0, 10, 2**20), task(0, 40, 0),
        task(1, 1, 0),
    ]
    log = tmp_path / "eventlog_v2_app" / "events_1_app"
    log.parent.mkdir()
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    g = tracing.event_log_groups(str(tmp_path))["t0:pairs"]
    assert g["shuffle_mb"] == pytest.approx(2.0)
    assert g["task_skew"] == pytest.approx(4.0)  # busiest stage: max 40 / median 10
    metrics = {}
    _, missing = run.add_event_log(metrics, 1, str(tmp_path), ("spam", "pairs"))
    assert missing == ["no jobs of t0:spam in the event log"]
    assert metrics["pairs.shuffle_mb"] == pytest.approx(2.0)


def test_sampler_cpu_is_not_driver_cpu():
    import procstat

    with procstat.PeakRss(interval_s=0.0) as rss:  # walks /proc without a pause
        c0 = procstat.cpu_seconds()
        time.sleep(0.5)
        c1 = procstat.cpu_seconds()
    assert rss.cpu_s > 0.2
    assert c1["driver"] - c0["driver"] < 0.1


def test_levelled_reads_the_last_drop():
    assert not run.levelled([30.0])
    assert not run.levelled([30.0, 20.0, 15.0, 12.0])  # still dropping 20%
    assert run.levelled([30.0, 20.0, 15.0, 14.0])


def test_inputs_are_seeded_and_cached(tmp_path):
    a, gen_a = inputs.ensure(str(tmp_path / "a"), "incremental", 3, TINY)
    b, _ = inputs.ensure(str(tmp_path / "b"), "incremental", 3, TINY)
    again, gen_again = inputs.ensure(str(tmp_path / "a"), "incremental", 3, TINY)
    assert gen_a > 0 and gen_again == 0.0 and again == a
    for part in ("base", "batch"):
        pd.testing.assert_frame_equal(pd.read_parquet(os.path.join(a, part)), pd.read_parquet(os.path.join(b, part)))
    roles = pd.read_parquet(os.path.join(a, "roles.parquet")).role.value_counts()
    assert set(roles.index) == {"unchanged", "edited", "copy", "fresh"} and roles.nunique() == 1


@pytest.fixture(scope="module")
def batch(spark, tmp_path_factory):
    path, _ = inputs.ensure(str(tmp_path_factory.mktemp("cache")), "batch_code", 1, TINY)
    wl = workloads.BatchCode(spark, path, 1, None)
    return wl, wl.run_pass()


@pytest.fixture(scope="module")
def incremental(spark, tmp_path_factory):
    path, _ = inputs.ensure(str(tmp_path_factory.mktemp("cache")), "incremental", 1, TINY)
    wl = workloads.Incremental(spark, path, 1, str(tmp_path_factory.mktemp("work")))
    return wl, wl.run_pass()


@pytest.mark.parametrize("name", ["batch", "incremental"])
def test_smoke_timed_and_traced_passes_check_clean(request, spark, name):
    wl, first = request.getfixturevalue(name)
    tr = tracing.Tracer(spark.sparkContext, group_prefix="t0:")
    traced, counts = wl.traced_pass(tr)
    assert run.check_passes(wl, [first, wl.run_pass(), traced]) == [[], [], []]
    m = run.layer_metrics(tr, counts)
    assert {s.name for s in tr.spans} >= set(wl.layers)
    assert m["fingerprint.rows"] > 0 and m["trace.unaccounted_s"] < 0.1 * m["trace.wall_s"]


def _problems(wl, first, out):
    return wl.checker(first).problems(out)


def test_batch_check_catches_a_flipped_action(batch):
    wl, first = batch
    out = {k: v.copy() for k, v in first.items()}
    i = out["clusters"].index[out["clusters"].action == "delete"][0]
    out["clusters"].loc[i, "action"] = "keep"
    assert "actions differ from the reference" in _problems(wl, first, out)


def test_batch_check_catches_a_dropped_pair(batch):
    wl, first = batch
    out = {k: v.copy() for k, v in first.items()}
    out["pairs"] = out["pairs"].iloc[1:]
    assert _problems(wl, first, out) == ["pairs differ from the reference"]


def test_batch_check_catches_a_wrong_fingerprint(batch):
    wl, first = batch
    out = {k: v.copy() for k, v in first.items()}
    out["fps"]["fingerprint"] ^= 1
    assert "fingerprints differ from the first pass" in _problems(wl, first, out)


def test_incremental_check_catches_a_missing_delete(incremental):
    wl, first = incremental
    checker = wl.checker(first)
    out = dict(first)
    out["delete"] = first["delete"][~first["delete"].doc_id.isin(checker.role["copy"])]
    assert "a copy under a new path is missing from the delete list" in checker.problems(out)


def test_incremental_check_catches_an_old_pair(incremental):
    wl, first = incremental
    out = dict(first)
    old = first["pairs"].iloc[:1].assign(a_is_new=False, b_is_new=False)
    out["pairs"] = pd.concat([first["pairs"], old])
    assert "an old x old pair was compared" in _problems(wl, first, out)


def _cli(cwd, *args):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, env=env, capture_output=True, text=True, timeout=600
    )


def test_main_prints_every_declared_metric(spark, monkeypatch, capsys):
    """run.main end to end at the tiny size, on the shared session."""
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    monkeypatch.setitem(run.N_DOCS, "batch_code", TINY)
    monkeypatch.setattr(run, "WARM_MIN", 1)
    monkeypatch.setattr(run, "WARM_MAX", 1)
    monkeypatch.setattr(run, "start_session", lambda work, cores, event_log: (spark, 0.0))
    monkeypatch.setattr(run, "stop_session", lambda s: None)
    assert run.main(["--workload", "batch_code", "--seed", "5", "--seconds", "1", "--trace", "0"]) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= run.MIN_TIMED
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {k: v["unit"] for k, v in res["metrics"].items()}
    assert all(v["value"] > 0 for v in res["metrics"].values())
    assert {w["name"] for w in spec["workloads"]} == set(run.N_DOCS)


def test_cli_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _cli(tmp_path, "--workload", "batch_code", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0 and p.stdout.strip() == ""
