"""Session factory defaults, checked on the builder without starting a
JVM (``getOrCreate`` is replaced to hand the builder back)."""

import os
import sys

import pytest
from pyspark.sql import SparkSession

from solar_logger_spark.session import get_spark


def _builder_options(monkeypatch, cpus=None):
    monkeypatch.delenv("SPARK_GRAFT_EXTRA_CONF", raising=False)
    if cpus is None:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", cpus)
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: self)
    return get_spark()._options


def test_default_master_is_host_cpu_count(monkeypatch):
    n = len(os.sched_getaffinity(0))
    opts = _builder_options(monkeypatch)
    assert opts["spark.master"] == f"local[{n}]"
    assert opts["spark.sql.shuffle.partitions"] == str(max(n, 8))


def test_non_integer_cpus_fall_back_to_host_cpu_count(monkeypatch):
    n = len(os.sched_getaffinity(0))
    opts = _builder_options(monkeypatch, cpus="*")
    assert opts["spark.master"] == "local[*]"
    assert opts["spark.sql.shuffle.partitions"] == str(max(n, 8))


@pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython 3.12's zipimporter.invalidate_caches reads no archive",
)
def test_python_task_reads_an_unchanged_zip_archive_once(spark, tmp_path):
    """Inside a Python task, ``importlib.invalidate_caches()`` (which
    PySpark's worker calls before every task) re-reads no zip archive on
    ``sys.path`` that is unchanged, and re-reads one whose bytes changed."""
    archive = str(tmp_path / "probe_pkg.zip")

    def write(body):
        import zipfile

        with zipfile.ZipFile(archive, "w") as zf:
            zf.writestr("slspark_zip_probe.py", body)

    write("X = 1\n")

    def probe(_):
        import importlib
        import sys
        import zipimport

        reads = []
        read_directory = zipimport._read_directory

        def counted(path):
            reads.append(path)
            return read_directory(path)

        sys.path.insert(0, archive)
        try:
            importlib.import_module("slspark_zip_probe")
            importlib.invalidate_caches()
            zipimport._read_directory = counted
            importlib.invalidate_caches()
            unchanged = list(reads)
            write("X = 2  # longer\n")
            reads.clear()
            importlib.invalidate_caches()
            changed = list(reads)
        finally:
            zipimport._read_directory = read_directory
            sys.path.remove(archive)
            sys.path_importer_cache.pop(archive, None)
            sys.modules.pop("slspark_zip_probe", None)
        yield unchanged, changed

    [(unchanged, changed)] = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    assert unchanged == []
    assert changed == [archive]


def test_python_tasks_run_under_a_long_tmpdir(tmp_path):
    """A ``get_spark`` session started outside the checkout, with a long
    ``TMPDIR`` (and JVM temp directory), runs its Python tasks through
    the package's worker daemon."""
    import subprocess

    tmp = tmp_path / ("t" * 60) / ("u" * 60) / ("v" * 40)
    tmp.mkdir(parents=True)
    assert len(str(tmp)) > 150
    script = """
import pandas as pd
from pyspark.sql import functions as F
from solar_logger_spark.session import get_spark

spark = get_spark(master="local[2]")
conf = spark.sparkContext.getConf()
assert conf.get("spark.python.daemon.module") == "solar_logger_spark.worker_daemon"

@F.pandas_udf("long")
def plus_one(v: pd.Series) -> pd.Series:
    return v + 1

def double(batches):
    for b in batches:
        yield b.set_column(0, "id", b.column(0).to_numpy() * 2)

df = spark.range(10)
assert sum(r[0] for r in df.select(plus_one("id")).collect()) == 55
assert sum(r[0] for r in df.mapInArrow(double, df.schema).collect()) == 90
print("ok")
"""
    env = {
        **os.environ,
        "TMPDIR": str(tmp),
        "PYTHONPATH": os.pathsep.join(
            filter(None, [
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                os.environ.get("PYTHONPATH"),
            ])
        ),
        "SPARK_GRAFT_EXTRA_CONF": f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
    }
    out = subprocess.run(
        [sys.executable, "-c", script], env=env, cwd=str(tmp_path),
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0 and out.stdout.strip().endswith("ok"), out.stderr[-3000:]
