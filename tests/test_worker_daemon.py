"""The worker daemon's zip importers re-read an archive only when it has
changed (``flink_estimator_spark/worker_daemon.py``, SCALE.md §6)."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from flink_estimator_spark import worker_daemon

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

eager = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zip importers re-read lazily from CPython 3.13"
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)


@pytest.fixture
def counted_reads(monkeypatch):
    """The patched importer, with every archive read counted."""
    reads = []

    def counting(archive):
        reads.append(archive)
        return worker_daemon.read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches
    )
    return reads


@eager
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch, counted_reads):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"wd_first": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "wd_first", raising=False)
    monkeypatch.delitem(sys.modules, "wd_second", raising=False)
    assert importlib.import_module("wd_first").X == 1
    assert counted_reads.count(archive) == 1

    counted_reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert counted_reads.count(archive) == 0

    # rewritten at the same path with one more module: re-read once
    _write_zip(archive, {"wd_first": "X = 1\n", "wd_second": "Y = 2\n"})
    importlib.invalidate_caches()
    assert counted_reads.count(archive) == 1
    assert importlib.import_module("wd_second").Y == 2
    importlib.invalidate_caches()
    assert counted_reads.count(archive) == 1


@eager
def test_task_start_rereads_no_archive(spark):
    """What a task's ``importlib.invalidate_caches()`` costs inside a
    worker of a ``get_spark`` session: PySpark's own daemon re-reads
    ``pyspark.zip`` once per package directory imported from it (16 times
    in a pandas-UDF worker)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def archive_reads(s: pd.Series) -> pd.Series:
        import importlib
        import zipimport

        read = zipimport._read_directory
        calls = []
        zipimport._read_directory = lambda archive: calls.append(archive) or read(archive)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        return pd.Series([len(calls)] * len(s))

    counts = spark.range(0, 8, numPartitions=2).select(archive_reads("id").alias("n"))
    assert {r.n for r in counts.collect()} == {0}


def test_daemon_imports_from_any_working_directory(tmp_path):
    """Local workers start in the session's working directory; the package must
    import there even when nothing puts the repo on ``PYTHONPATH``."""
    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "PYSPARK_SUBMIT_ARGS")}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    code = (
        f"import sys; sys.path.insert(0, {REPO_ROOT!r})\n"
        "from flink_estimator_spark.session import get_spark\n"
        "spark = get_spark(app_name='cwd', shuffle_partitions=1)\n"
        "print(spark.createDataFrame([(1,)], 'a int').collect())\n"
        "spark.stop()\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "[Row(a=1)]" in proc.stdout
