"""Session factory: machine-sized defaults, the Python-runner warm-up and
the worker daemon."""

import os
import subprocess
import zipfile

import pandas as pd
import pytest
from pyspark.sql.functions import pandas_udf

from simhash_text_dedup_spark import session
from test_sparksubmit import _zip_package


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


def test_daemon_only_when_importable_at_worker_start(tmp_path):
    pkg = tmp_path / "simhash_text_dedup_spark"
    pkg.mkdir()
    assert session.importable_at_worker_start(str(pkg), ["", str(tmp_path)])
    assert not session.importable_at_worker_start(str(pkg), [str(pkg), "/elsewhere"])
    archive = tmp_path / "pkg.zip"
    archive.write_bytes(b"")
    assert not session.importable_at_worker_start(
        str(archive / "simhash_text_dedup_spark"), [str(tmp_path), str(archive)]
    )


def test_worker_keeps_spark_archive_indexes(spark, tmp_path):
    """A task's importlib.invalidate_caches() re-reads no archive that was
    on the worker path at start; a zip added later still imports."""

    @pandas_udf("long")
    def archive_reads(s: pd.Series) -> pd.Series:
        import importlib
        import zipimport

        real, calls = zipimport._read_directory, []
        zipimport._read_directory = lambda archive: calls.append(archive) or real(archive)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        return pd.Series([len(calls)] * len(s))

    assert {r.n for r in spark.range(0, 8, 1, 2).select(archive_reads("id").alias("n")).collect()} == {0}

    late = tmp_path / "late_pyfile.zip"
    with zipfile.ZipFile(late, "w") as z:
        z.writestr("late_pyfile_mod.py", "VALUE = 7\n")
    spark.sparkContext.addPyFile(str(late))

    @pandas_udf("long")
    def late_value(s: pd.Series) -> pd.Series:
        import late_pyfile_mod

        return s * 0 + late_pyfile_mod.VALUE

    assert {r.v for r in spark.range(0, 4, 1, 2).select(late_value("id").alias("v")).collect()} == {7}


def test_spark_submit_from_archive_falls_back(tmp_path):
    """With the package only in a --py-files zip the worker daemon cannot
    start, so get_spark keeps Spark's daemon, says so, and UDFs run."""
    pkg_zip = str(tmp_path / "pkg.zip")
    _zip_package(pkg_zip)
    script = tmp_path / "drive.py"
    script.write_text(
        "from pyspark.sql import functions as F\n"
        "from simhash_text_dedup_spark.functions.simhash import simhash_col\n"
        "from simhash_text_dedup_spark.session import get_spark\n"
        "spark = get_spark(cores=2)\n"
        "fp = simhash_col(F.col('id').cast('string'))\n"
        "assert spark.range(0, 40, 1, 2).select(F.count_distinct(fp)).first()[0] > 1\n"
        "spark.stop()\n"
    )
    res = subprocess.run(
        ["spark-submit", "--master", "local[2]", "--py-files", pkg_zip, str(script)],
        cwd=str(tmp_path),
        env={**os.environ, "PYTHONPATH": ""},
        capture_output=True,
        text=True,
        timeout=240,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    # spark-submit passes the Python driver's stderr on to its stdout
    assert "re-reads Spark's archives" in res.stdout
