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
io/merge snapshot store (``<out>/_status_dim``). The driver holds it as
a dict, the way the reference holds ``self._status``: each micro-batch
collects its status messages, folds them in with the MERGE's
ts-guarded rule, commits a new snapshot with an atomic pointer swap
only when a row changed, then gates its points against the result.

Scale notes: the topic routing is SQL text, one statement per branch
(device names enter it only as named parameters), so a micro-batch
builds its plans in about 150–250 py4j calls; the only Python is one
Arrow pass that decodes each packet and unpivots it to points. The
status gate is an IN-list over the driver-held dimension, one row per
device, applied to the raw rows' topic device ahead of that pass: the
data stream never shuffles or joins for the gate, and offline devices'
packets are never decoded. Sink files are partitioned by (measurement,
date) so downstream time-range + measurement queries prune partitions
instead of scanning.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    BinaryType, StringType, StructField, StructType, TimestampType,
)

from solar_logger_spark.io import merge as M
# latest_per_key stays importable from here: perfbench's traced ingest
# run hooks it by this module's name
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


# The topic scheme (reference ``mqtt_classes.py:71-95``) as SQL text over
# the raw rows ``{raw}``, its one rendering: ``mate/<device>/status`` is a
# status message, ``mate/<device>/<d>-status`` a data packet and
# ``mate/status`` the whole mate's status. ``try_element_at`` reads a part
# the topic lacks as NULL, in ANSI mode too.
_PART = "try_element_at(split(topic, '/'), {})"
_ROUTED = f"""(SELECT *,
    CASE WHEN topic = '{MATE_STATUS_TOPIC}' THEN 'mate' ELSE {_PART.format(2)} END AS device,
    CASE WHEN topic = '{MATE_STATUS_TOPIC}' OR {_PART.format(3)} = 'status' THEN 'status'
         WHEN {_PART.format(3)} = concat(substr({_PART.format(2)}, 1, 2), '-status') THEN 'data'
         ELSE 'other' END AS kind
  FROM {{raw}})"""


def _routed(df: DataFrame, select: str = "*", where: str = "TRUE", args: dict | None = None) -> DataFrame:
    """One ``spark.sql`` statement over ``df``'s routed rows. Values (the
    device names come from MQTT topics) only enter as named parameters."""
    return df.sparkSession.sql(
        f"SELECT {select} FROM {_ROUTED} WHERE {where}", args=args, raw=df
    )


def split_topic(df: DataFrame) -> DataFrame:
    """Parse the reference's topic scheme (``mqtt_classes.py:71-95``):
    ``mate/<device>/status`` → status message, ``mate/<device>/<d>-status``
    → data packet, ``mate/status`` → whole-mate status. Adds
    ``device`` and ``kind`` ∈ {status, data, other} columns."""
    return _routed(df)


def status_updates(df: DataFrame) -> DataFrame:
    """S3: the status branch — ``(device, status, ts)`` with the payload
    ASCII-decoded (reference F7, ``mqtt_classes.py:193,196``)."""
    return _routed(
        df, "device, CAST(payload AS STRING) AS status, arrival_ts AS ts", "kind = 'status'"
    )


def data_points(df: DataFrame, devices: Sequence[str] | None = None) -> DataFrame:
    """P7 + F1-F5 + T2: the data branch — topic-routed decode to the
    canonical ``(measurement, ts, field, value)`` point stream. Event
    time comes from the packet's embedded epoch (T1), not arrival.

    ``devices``, when given, keeps only the packets whose topic names one
    of them. The filter runs on the raw rows, before the decode: the
    decode pass is opaque to the optimizer, so a filter on its output
    would decode every packet first."""
    where, args = "kind = 'data'", None
    if devices is not None:
        args = {f"d{i}": d for i, d in enumerate(devices)}
        where += f" AND device IN ({', '.join(':' + k for k in args)})" if args else " AND FALSE"
    return decode_packets(_routed(df, "device AS measurement, payload", where, args))


def gated_batch(raw: DataFrame) -> DataFrame:
    """Batch form of the online gate: decode ``raw``'s data messages
    and keep the devices whose latest status among ``raw``'s own status
    messages is online (:func:`status_gate`, a broadcast semi-join)."""
    return status_gate(
        data_points(raw),
        status_updates(raw).withColumnRenamed("device", "measurement"),
        ["measurement"],
    )


class IngestBatchProcessor:
    """foreachBatch body for the ingest sink — pulled into a class so
    idempotency and gating are unit-testable without a live stream.

    Status (S3, the reference's ``self._status`` dict,
    ``mqtt_classes.py:114-119``): each batch's status messages fold
    into the dimension at ``<out>/_status_dim``, held on the driver by
    :func:`status_dimension_sink`, and the batch's points are filtered
    to the devices it holds as ``online``. Until the first status
    message arrives nothing is gated. A batch runs three Spark jobs:
    collect its status rows, commit the dimension (skipped when no row
    changed), write the points.

    Effectively-once (T6): foreachBatch is at-least-once, so a crashed
    ``epoch_id`` replays. The points are written to
    ``<out>/_staging/epoch-<id>`` and their files renamed into
    ``points/``; only then is the epoch's marker (an empty file under
    ``<out>/_commits``) written and the stage removed. A replay skips an
    epoch with a marker, finishes the renames of a stage Spark committed
    (``_SUCCESS``) without a job, and rewrites a stage without one — no
    crash point appends an epoch's points twice. A crash inside the
    status fold leaves no points and no marker, and replaying the fold
    changes nothing already folded.

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
        self.staging_path = os.path.join(output_dir, "_staging")
        self.gate_online = gate_online
        self._fold_status = status_dimension_sink(self.dim_path)

    def _commit_marker(self, epoch_id: int) -> str:
        return os.path.join(self.commits_path, f"epoch-{epoch_id}")

    def __call__(self, batch: DataFrame, epoch_id: int) -> None:
        stage = os.path.join(self.staging_path, f"epoch-{epoch_id}")
        if os.path.exists(self._commit_marker(epoch_id)):
            shutil.rmtree(stage, ignore_errors=True)  # crashed before cleanup
            return  # crash-replay of an already-committed batch
        if not os.path.exists(os.path.join(stage, "_SUCCESS")):
            shutil.rmtree(stage, ignore_errors=True)  # a half-written stage
            # time-sorted within each written file → tight per-row-group
            # ts min/max stats, so time-range scans skip row groups even
            # inside a partition
            batch.sparkSession.sql(
                "SELECT *, to_date(ts) AS date FROM {points} SORT BY measurement, date, ts",
                points=self._gated_points(batch, epoch_id),
            ).write.partitionBy("measurement", "date").parquet(stage)
        _move_files(stage, self.points_path)
        os.makedirs(self.commits_path, exist_ok=True)
        with open(self._commit_marker(epoch_id), "w"):
            pass
        shutil.rmtree(stage)

    def _gated_points(self, batch: DataFrame, epoch_id: int) -> DataFrame:
        if M.current_snapshot(self.dim_path) is None and os.path.exists(
            self.legacy_status_path
        ):
            M.init_table(
                batch.sparkSession.read.parquet(self.legacy_status_path),
                self.dim_path,
            )
        dim = self._fold_status(batch, epoch_id)
        if not self.gate_online or dim is None:
            return data_points(batch)
        online = [d for d, (_, status) in dim.items() if status == "online"]
        return data_points(batch, devices=online)


def _move_files(src: str, dst: str) -> None:
    """Rename every file below ``src``'s subdirectories to the same
    path under ``dst``. Spark's part-file names are unique per write
    job, and a moved file leaves ``src``: a re-run moves what is left."""
    os.makedirs(dst, exist_ok=True)
    for root, _, files in os.walk(src):
        rel = os.path.relpath(root, src)
        if rel == os.curdir:
            continue
        os.makedirs(os.path.join(dst, rel), exist_ok=True)
        for f in files:
            os.replace(os.path.join(root, f), os.path.join(dst, rel, f))


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
    table ``(device, status, ts)`` in the io/merge snapshot store and
    returns it as ``{device: (ts in epoch micros, status)}`` (``None``
    while no snapshot exists).

    The dimension is held on the driver, keyed by the ``_CURRENT``
    snapshot name it was read or committed as; it is re-read (two jobs)
    only when that name differs, e.g. after a restart or a crash inside
    the swap. Each batch collects its status rows (one job) and folds
    them in with the MERGE rule: a row replaces the held one when its
    ts is >= the held ts, so the latest ts wins within a batch and a
    late redelivery of an OLD status never regresses a newer one (T6).
    A row without a ts never replaces a timed one and carries no status
    (``max_by``'s null rule). Only a fold that changed a row commits:
    ``io.merge.replace_table`` of a literal-row frame (one job) writes a
    new snapshot and swaps ``_CURRENT`` atomically, so a crash at any
    step leaves the previous snapshot live and the replay re-applies
    the same fold. Differential-pinned in tests: streamed folds ==
    batch ``latest_per_key`` over the full status history.

    Usage::

        q = (raw.writeStream
             .foreachBatch(status_dimension_sink(dim_dir))
             .option("checkpointLocation", ckpt).start())
    """
    snap: str | None = None
    dim: dict[str, tuple[int | None, str | None]] = {}

    def _write(batch: DataFrame, epoch_id: int) -> dict | None:
        nonlocal snap, dim
        spark = batch.sparkSession
        micros = ("device", "unix_micros(ts)", "status")
        rows = status_updates(batch).selectExpr(*micros).collect()
        live = M.current_snapshot(table_dir)
        if live != snap:
            stored = [] if live is None else (
                M.read_table_snapshot(spark, table_dir, at=live)
                .selectExpr(*micros).collect()
            )
            snap, dim = live, {device: (ts, status) for device, ts, status in stored}
        folded = dict(dim)
        for device, ts, status in rows:
            held = folded.get(device)
            if held is None or held[0] is None or (ts is not None and ts >= held[0]):
                folded[device] = (ts, status if ts is not None else None)
        if folded != dim:
            snap, dim = M.replace_table(
                _dimension_frame(spark, folded), table_dir,
                keep_snapshots=keep_snapshots,
            ), folded
        return None if snap is None else dim

    return _write


_DIMENSION_SCHEMA = pa.schema([
    ("device", pa.string()), ("status", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
])


def _dimension_frame(spark: SparkSession, dim: dict) -> DataFrame:
    """``dim`` as a one-partition frame, sent to the JVM as one Arrow
    table. Building and writing it takes about 25 py4j calls whatever
    the device count; a parameterized ``VALUES`` statement took 53 for 3
    devices and 377 for 30, and a ``F.struct`` of literals per device
    330 and 2,400. No device name (they come from MQTT topics) enters
    SQL text."""
    items = sorted(dim.items())
    table = pa.table([
        [device for device, _ in items],
        [status for _, (_, status) in items],
        [ts for _, (ts, _) in items],
    ], schema=_DIMENSION_SCHEMA)
    return spark.createDataFrame(table).coalesce(1)


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
