"""SparkSession factory with scale-appropriate defaults.

Local testing runs ``local[N]``; the same conf block is what we would ship
to a 1000-executor cluster — AQE (runtime re-planning, skew-join
splitting, partition coalescing), Arrow for the few pandas-UDF paths, and
shuffle-partition counts sized to the environment.
"""

from __future__ import annotations

import os
import socket

from pyspark.sql import SparkSession


def _enable_py4j_nodelay() -> None:
    """Set TCP_NODELAY on py4j's Python→JVM command sockets.

    py4j never sets it (py4j#291 territory), so Nagle's algorithm can
    hold small command frames while an ACK is outstanding; measured
    here at 1.28 ms → 0.39 ms per round trip in the bursty
    plan-construction regime (sustained ping-pong is unaffected at
    ~0.2 ms). Pure transport tuning: no protocol or semantic change,
    standard practice for request/response RPC sockets. Idempotent and
    safe to call before or after the gateway exists — it wraps the
    connection constructor, so every future connection (py4j opens one
    per concurrent driver thread) is covered."""
    try:
        import py4j.clientserver as _cs
    except Exception:  # pragma: no cover - py4j always present with pyspark
        return
    if getattr(_cs.ClientServerConnection, "_slspark_nodelay", False):
        return
    orig = _cs.ClientServerConnection.connect_to_java_server

    def connect_with_nodelay(self):
        result = orig(self)
        try:
            self.socket.setsockopt(
                socket.IPPROTO_TCP, socket.TCP_NODELAY, 1
            )
        except Exception:
            pass
        return result

    _cs.ClientServerConnection.connect_to_java_server = connect_with_nodelay
    _cs.ClientServerConnection._slspark_nodelay = True


def get_spark(
    app_name: str = "solar-logger-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession tuned for this engine.

    Defaults are env-overridable so the driver's bench harness can pin
    cores via ``SPARK_GRAFT_CPUS``; unset, it is the number of CPUs this
    process may run on (what ``nproc`` reports).
    """
    _enable_py4j_nodelay()
    host_cpus = len(os.sched_getaffinity(0))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(host_cpus))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus), 8)
        except ValueError:
            shuffle_partitions = max(host_cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # deterministic timestamp semantics: store + compute in UTC
        .config("spark.sql.session.timeZone", "UTC")
        # runtime re-planning: coalesce small shuffle partitions, split
        # skewed ones — essential at 100 TB, free at test scale
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow transfer for pandas UDFs (decoders, embedding kernels)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # broadcast joins for small dims (region/nation/status tables)
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # Optional conf overrides/extensions: "k1=v1;k2=v2". Lets the bench
    # A/B candidate configs without code edits, and lets a cluster
    # deployment pin environment-specific values (executor sizing,
    # shuffle service, codec) the same way.
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for kv in filter(None, extra.split(";")):
        k, _, v = kv.partition("=")
        if k.strip():
            builder = builder.config(k.strip(), v.strip())
    return builder.getOrCreate()
