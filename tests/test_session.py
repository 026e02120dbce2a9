"""Session factory: machine-sized defaults and the Python-runner warm-up."""

import pytest

from simhash_text_dedup_spark import session


def test_default_heap_fits_physical_memory():
    with open("/proc/meminfo") as f:
        total_mb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:")) // 1024
    heap = session.default_driver_memory()
    assert heap.endswith("m")
    assert 0 < int(heap[:-1]) <= total_mb


def test_failed_warm_up_is_retried(spark, monkeypatch):
    """A warm-up that raises must not mark the app as warmed: the next
    get_spark call (same live session) warms again."""
    monkeypatch.setattr(session, "_PY_RUNNER_WARMED", set())
    real_range = spark.range
    calls = []

    def flaky_range(*args, **kwargs):  # each warm-up builds one range
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("warm-up broke")
        return real_range(*args, **kwargs)

    monkeypatch.setattr(spark, "range", flaky_range)
    app_id = spark.sparkContext.applicationId

    with pytest.warns(RuntimeWarning, match="warm-up failed"):
        session._warm_python_runner(spark)
    assert app_id not in session._PY_RUNNER_WARMED

    # the same arguments as the suite's session, so getOrCreate hands it back
    again = session.get_spark(app="tests", cores=4, shuffle_partitions=8,
                              extra={"spark.sql.execution.arrow.maxRecordsPerBatch": "2000"})
    assert again is spark
    assert len(calls) == 2
    assert app_id in session._PY_RUNNER_WARMED

    session._warm_python_runner(spark)  # warmed: no third attempt
    assert len(calls) == 2
