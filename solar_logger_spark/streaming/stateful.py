"""Stateful per-device online gating — Structured Streaming state store.

The reference consults an in-memory last-status dict per message
(``src/classes/mqtt_classes.py:114-119,187-198,229-233``): a data packet
is processed only if its device's most recent status message said
``online``. ``ingest.py`` emulates that per micro-batch with a maintained
status dimension; this module is the *streaming-native* form (SURVEY §2.9
T5): ``applyInPandasWithState`` holding one tiny state row per device in
Spark's checkpointed state store.

Semantics match the reference's sequential callback: within each device
group, messages are applied in arrival order — a status flip gates every
later data message in the same batch, and state carries across batches
(and restarts, via the checkpoint).

Scale notes: state is O(#devices) rows of one short string — trivially
partitioned by device key across executors; the data stream shuffles
once on device (unavoidable for per-key ordered state) and everything
downstream (decode, unpivot, sink) is unchanged. At very high fan-in the
same plan holds — the state store is keyed and incremental, nothing
grows with throughput.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType, StringType, StructField, StructType, TimestampType,
)

from solar_logger_spark.streaming.ingest import split_topic

GATED_SCHEMA = StructType([
    StructField("device", StringType()),
    StructField("payload", BinaryType()),
    StructField("arrival_ts", TimestampType()),
])

_STATE_SCHEMA = StructType([StructField("status", StringType())])


def _gate_group(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """``applyInPandasWithState`` body: replay one device's batch in
    arrival order against its stored status (reference ``_on_message``
    semantics, serialized per device), yield the data messages that
    arrive while the device is online, and store the status after the
    last message."""
    (status,) = state.get if state.exists else ("offline",)
    for pdf in pdfs:
        pdf = pdf.sort_values("arrival_ts", kind="mergesort")
        keep: list[dict[str, Any]] = []
        for row in pdf.itertuples(index=False):
            if row.kind == "status":
                status = bytes(row.payload).decode("ascii", errors="replace")
            elif row.kind == "data" and status == "online":
                keep.append(
                    {
                        "device": row.device,
                        "payload": row.payload,
                        "arrival_ts": row.arrival_ts,
                    }
                )
        if keep:
            yield pd.DataFrame(keep)
    state.update((status,))


def stateful_gated_stream(raw: DataFrame) -> DataFrame:
    """Streaming online-gate: raw RAW_SCHEMA stream → gated data
    messages ``(device, payload, arrival_ts)``, ready for
    ``decode_packets`` (rename ``device`` → ``measurement``).

    Works on a streaming DataFrame; state (last status per device) lives
    in the checkpointed state store, so restarts resume gating exactly
    where they left off.
    """
    tagged = split_topic(raw).filter(F.col("kind").isin("status", "data"))
    return (
        tagged.select("device", "kind", "payload", "arrival_ts")
        .groupBy("device")
        .applyInPandasWithState(
            _gate_group,
            outputStructType=GATED_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_stream_gated(
    raw: DataFrame,
    status_validity: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """The online gate as a stream-stream interval join (the third form
    SURVEY J1 maps to, after the broadcast batch gate and the
    state-store gate): data messages join status messages of the same
    device whose 'online' report arrived within ``status_validity``
    before them.

    Differs from latest-status semantics — a data row passes if ANY
    online report covers it, rather than the single latest report
    deciding; the validity interval is what lets Spark bound both join
    states (watermark + time-range condition → old rows evicted).
    Choose this form when status messages are heartbeats; choose the
    state-store gate when they are edge-triggered transitions.
    """
    tagged = split_topic(raw)
    data = (
        tagged.filter(F.col("kind") == "data")
        .select("device", "payload", "arrival_ts")
        .withWatermark("arrival_ts", watermark)
    )
    online = (
        tagged.filter(
            (F.col("kind") == "status")
            & (F.col("payload").cast("string") == "online")
        )
        .select(
            F.col("device").alias("s_device"),
            F.col("arrival_ts").alias("status_ts"),
        )
        .withWatermark("status_ts", watermark)
    )
    joined = data.join(
        online,
        (F.col("device") == F.col("s_device"))
        & (F.col("status_ts") <= F.col("arrival_ts"))
        & (
            F.col("status_ts")
            >= F.col("arrival_ts") - F.expr(f"INTERVAL {status_validity}")
        ),
        "leftsemi",
    )
    return joined.select("device", "payload", "arrival_ts")
