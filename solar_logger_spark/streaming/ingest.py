"""Structured-Streaming ingest pipeline — the reference's second program
(``src/app/solar_main.py`` + ``mqtt_classes.py``) as one declarative plan.

Reference dataflow (SURVEY §3 entry 2): MQTT messages → per-device
online/offline status table (S3) → topic-routed binary decode (P7,
F1-F5) → unpivot to per-field points (T2) → point sink (S4). Threads and
a 150-slot queue provide the plumbing there; here the same dataflow is

    readStream → split_topic → [status branch | data branch]
               → decode_packets → withWatermark → writeStream

and backpressure/batching/restart-recovery come from the micro-batch
engine + checkpointing (T3/T6 — strictly stronger than the reference's
lossy in-memory queue; divergence documented in SURVEY §2.9).

The status table is a maintained latest-per-device dimension in the
io/merge snapshot store (``<out>/_status_dim``): each micro-batch folds
its status messages in with a ts-guarded MERGE and an atomic pointer
swap, then gates its points against the result.

Scale notes: topic parsing, time extraction and the unpivot are
codegen'd column ops; the only Python is the Arrow-batched payload
decode. The status gate broadcasts the per-device status dimension —
at 1000 executors the data stream never shuffles for the gate. Sink
files are partitioned by (measurement, date) so downstream time-range +
measurement queries prune partitions instead of scanning.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    BinaryType, StringType, StructField, StructType, TimestampType,
)

from solar_logger_spark.io import merge as M
# status_gate stays importable from here: perfbench's traced ingest run
# hooks both operators by this module's names
from solar_logger_spark.operators.asof import latest_per_key, status_gate  # noqa: F401
from solar_logger_spark.streaming.decode import decode_packets

# Raw message schema — what any transport (MQTT source, file replay,
# rate-source test harness) must deliver.
RAW_SCHEMA = StructType([
    StructField("topic", StringType()),
    StructField("payload", BinaryType()),
    StructField("arrival_ts", TimestampType()),
])

MATE_STATUS_TOPIC = "mate/status"  # reference: mqtt_classes.py:79


def split_topic(df: DataFrame) -> DataFrame:
    """Parse the reference's topic scheme (``mqtt_classes.py:71-95``):
    ``mate/<device>/status`` → status message, ``mate/<device>/<d>-status``
    → data packet, ``mate/status`` → whole-mate status. Adds
    ``device`` and ``kind`` ∈ {status, data, other} columns (codegen)."""
    parts = F.split(F.col("topic"), "/")
    device = F.when(F.col("topic") == MATE_STATUS_TOPIC, F.lit("mate")).otherwise(
        parts.getItem(1)
    )
    leaf = parts.getItem(2)
    kind = (
        F.when(F.col("topic") == MATE_STATUS_TOPIC, F.lit("status"))
        .when(leaf == "status", F.lit("status"))
        .when(leaf == F.concat(parts.getItem(1).substr(1, 2), F.lit("-status")), F.lit("data"))
        .otherwise(F.lit("other"))
    )
    return df.withColumn("device", device).withColumn("kind", kind)


def status_updates(df: DataFrame) -> DataFrame:
    """S3: the status branch — ``(device, status, ts)`` with the payload
    ASCII-decoded (reference F7, ``mqtt_classes.py:193,196``)."""
    return (
        split_topic(df)
        .filter(F.col("kind") == "status")
        .select(
            "device",
            F.col("payload").cast("string").alias("status"),
            F.col("arrival_ts").alias("ts"),
        )
    )


def data_points(df: DataFrame) -> DataFrame:
    """P7 + F1-F5 + T2: the data branch — topic-routed decode to the
    canonical ``(measurement, ts, field, value)`` point stream. Event
    time comes from the packet's embedded epoch (T1), not arrival."""
    data = (
        split_topic(df)
        .filter(F.col("kind") == "data")
        .withColumnRenamed("device", "measurement")
    )
    return decode_packets(data)


def gated_batch(raw: DataFrame) -> DataFrame:
    """Batch form of the online gate: the same broadcast semi-join as
    :func:`gated_batch_from_dimension`, against the latest status per
    device reduced from ``raw``'s own status messages."""
    latest = latest_per_key(status_updates(raw), ["device"], payload_cols=["status"])
    return gated_batch_from_dimension(raw, latest)


class IngestBatchProcessor:
    """foreachBatch body for the ingest sink — pulled into a class so
    idempotency and gating are unit-testable without a live stream.

    Status (S3, the reference's ``self._status`` dict,
    ``mqtt_classes.py:114-119``): each batch's status messages fold
    into the maintained dimension at ``<out>/_status_dim``
    (:func:`status_dimension_sink`), and the batch's points are then
    gated against it (:func:`gated_batch_from_dimension`). Until the
    first status message arrives nothing is gated; after that, a device
    without an ``online`` row is.

    Effectively-once (T6): foreachBatch is at-least-once — after a crash
    between sink write and checkpoint commit, the same ``epoch_id``
    replays. A committed-batch marker directory (one empty file per
    epoch, written *after* the points append) lets the replay detect the
    duplicate and skip the append, upgrading the plain-parquet sink to
    effectively-once. (A transactional table format gets this from its
    commit protocol; this is the same idea scaled down.) A crash inside
    the status fold leaves no points and no marker, and the ts-guarded
    MERGE makes the replayed fold a no-op for rows already folded.

    Upgrade: sink directories written before the dimension existed keep
    their learned statuses in a ``<out>/_status`` parquet table. An
    absent dimension is seeded once from it, so a device last seen
    offline stays gated.
    """

    def __init__(self, output_dir: str, gate_online: bool = True) -> None:
        self.legacy_status_path = os.path.join(output_dir, "_status")
        self.dim_path = os.path.join(output_dir, "_status_dim")
        self.points_path = os.path.join(output_dir, "points")
        self.commits_path = os.path.join(output_dir, "_commits")
        self.gate_online = gate_online
        self._fold_status = status_dimension_sink(self.dim_path)

    def _commit_marker(self, epoch_id: int) -> str:
        return os.path.join(self.commits_path, f"epoch-{epoch_id}")

    def __call__(self, batch: DataFrame, epoch_id: int) -> None:
        if os.path.exists(self._commit_marker(epoch_id)):
            return  # crash-replay of an already-committed batch
        (
            self._gated_points(batch, epoch_id)
            .withColumn("date", F.to_date("ts"))
            # time-sorted within each written file → tight per-row-group
            # ts min/max stats, so time-range scans skip row groups even
            # inside a partition
            .sortWithinPartitions("measurement", "date", "ts")
            .write.mode("append")
            .partitionBy("measurement", "date")
            .parquet(self.points_path)
        )
        os.makedirs(self.commits_path, exist_ok=True)
        with open(self._commit_marker(epoch_id), "w"):
            pass

    def _gated_points(self, batch: DataFrame, epoch_id: int) -> DataFrame:
        spark_b = batch.sparkSession
        if M.current_snapshot(self.dim_path) is None and os.path.exists(
            self.legacy_status_path
        ):
            M.init_table(spark_b.read.parquet(self.legacy_status_path), self.dim_path)
        self._fold_status(batch, epoch_id)
        if not self.gate_online or M.current_snapshot(self.dim_path) is None:
            return data_points(batch)
        return gated_batch_from_dimension(
            batch, M.read_table_snapshot(spark_b, self.dim_path)
        )


def ingest_query(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    gate_online: bool = True,
    available_now: bool = True,
) -> StreamingQuery:
    """End-to-end ingest: parquet-file message stream → decoded gated
    points → parquet append sink partitioned by (measurement, date).

    ``foreachBatch`` runs :class:`IngestBatchProcessor`, so the online
    gate sees each micro-batch's status updates folded into the
    persisted latest-status dimension (``<out>/_status_dim``) — the
    same read-your-latest-status semantics as the reference's
    in-memory ``self._status`` dict, but restart- and crash-safe.
    ``gate_online=False`` still maintains the dimension but lets every
    device's points through.
    """
    raw = (
        spark.readStream.schema(RAW_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )
    writer = raw.writeStream.foreachBatch(
        IngestBatchProcessor(output_dir, gate_online=gate_online)
    ).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def status_dimension_sink(table_dir: str, keep_snapshots: int = 2):
    """S3 as a MAINTAINED dimension: a ``foreachBatch`` function that
    folds each micro-batch's status messages into a latest-per-device
    table in the io/merge snapshot store (MERGE keyed by device,
    ``ts``-guarded so a late redelivery of an OLD status can never
    regress a newer one — at-least-once transports redeliver, T6).

    This closes the loop between the streaming status branch and the
    snapshot store: ``status_gate`` recomputes latest-per-key per query
    (fine at any scale — the status side broadcasts), while this sink
    materializes the same reduction once as queryable table state,
    which is what the ingest sink's gate, a fleet dashboard or an
    external gate consumer reads. Each fold commits a new snapshot and
    then swaps ``_CURRENT`` atomically, so a crash at any step leaves
    the previous snapshot live, and replaying the batch re-applies the
    same upsert. Differential-pinned in tests: streamed upserts == batch
    ``latest_per_key`` over the full status history.

    Usage::

        q = (raw.writeStream
             .foreachBatch(status_dimension_sink(dim_dir))
             .option("checkpointLocation", ckpt).start())
    """
    inner = M.upsert_sink(
        table_dir, keys=["device"], order_col="ts",
        keep_snapshots=keep_snapshots,
    )

    def _write(batch: DataFrame, epoch_id: int) -> None:
        inner(status_updates(batch), epoch_id)

    return _write


def gated_batch_from_dimension(
    raw: DataFrame, dimension: DataFrame
) -> DataFrame:
    """The online gate evaluated against a MAINTAINED status dimension
    (see :func:`status_dimension_sink`) instead of re-reducing the raw
    status stream: decode the batch's data messages and keep devices
    whose dimension row says online. The dimension is one row per
    device — always broadcastable, so the point stream never shuffles
    (:func:`gated_batch` runs this same semi-join)."""
    online = dimension.filter(F.col("status") == "online").select("device")
    points = data_points(raw).withColumnRenamed("measurement", "device")
    return (
        points.join(F.broadcast(online), "device", "left_semi")
        .withColumnRenamed("device", "measurement")
    )


def dedup_stream(
    points: DataFrame,
    keys: Sequence[str] = ("measurement", "field", "ts"),
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup within a watermark horizon: re-delivered
    points (at-least-once transports, reconnect replays — the reference
    happily double-writes these, T6) are dropped if a row with the same
    key was seen no longer than ``watermark`` ago. State is bounded by
    the horizon: keys older than the watermark are evicted, so state
    size tracks arrival rate × horizon, not stream history."""
    return points.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def windowed_rollup_query(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    every: str = "1 hour",
    agg: str = "mean",
    watermark: str = "10 minutes",
    available_now: bool = True,
    slide: str | None = None,
    session_gap: str | None = None,
) -> StreamingQuery:
    """Streaming ``aggregateWindow`` (A1 over the live stream): tumbling
    (default), hopping (``slide``), or session (``session_gap``)
    event-time windows per (measurement, field) with a watermark for
    late data (T4 — the reference leaves late data undefined; we bound
    it explicitly, SURVEY §7 hard-part 2)."""
    raw = (
        spark.readStream.schema(RAW_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )
    agg_col = getattr(F, {"mean": "avg"}.get(agg, agg))("value").alias(f"{agg}_value")
    if session_gap is not None:
        win = F.session_window(F.col("ts"), session_gap)
    elif slide is not None:
        win = F.window(F.col("ts"), every, slide)
    else:
        win = F.window(F.col("ts"), every)
    rollup = (
        data_points(raw)
        .withWatermark("ts", watermark)
        .groupBy(win.alias("window"), "measurement", "field")
        .agg(agg_col)
        .select(
            F.col("window.end").alias("ts"),  # Flux labels windows by stop
            "measurement",
            "field",
            f"{agg}_value",
        )
    )
    writer = (
        rollup.writeStream.outputMode("append")
        .format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
    )
    # availableNow stops before a no-data flush batch can close the final
    # watermark-pending windows — callers needing a fully-flushed result
    # run a continuous trigger and stop once the expected windows land.
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
