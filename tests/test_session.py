"""Session factory defaults, checked on the builder without starting a
JVM (``getOrCreate`` is replaced to hand the builder back)."""

import os

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
