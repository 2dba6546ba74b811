"""Binary packet decode: time detach, payload decode, unpivot to points.

Reference semantics (``src/classes/mqtt_classes.py``):

* ``detach_time`` (F1, :28-38): the first ``TIME_PACKET_SIZE = 4`` bytes
  of every packet are a native-endian (= little-endian on every deploy
  target) unsigned-ish epoch int; the remainder minus ``padding_at_end``
  trailing bytes is the device payload. The reference golden test expects
  ``detach_time(b"\\x00\\x00\\x00\\x04t\\x00...") == (67108864, b"t\\x00...")``
  (``tests/classes/test_mqtt_classes.py:62-66``).
* ``dc/fx/mx_decoder`` (F2-F4, :40-68): payload → dict of named channel
  values via the external ``pymate`` packet classes, dropping ``raw``
  (P6). pymate is an optional GPL external dependency, so decoding is
  **pluggable** here: a decoder is any ``Callable[[bytes], dict]``
  registered per measurement. A deterministic self-inverse codec with the
  exact reference field schemas (``tests/config/consts.py:60-138``) ships
  as the default, so the Spark-side plumbing (binary columns, Arrow
  batch shape, unpivot fan-out) is fully real and testable without pymate.
* ``float(value)`` coercion (F6, :217): pymate values stringify as
  ``"27.4V"`` / ``"3.2kWh"`` / ``"100%"`` — only the leading numeric
  magnitude is stored. ``magnitude()`` implements that as a JVM-side
  regexp (codegen, no Python).

Scale notes: decode and unpivot are one ``mapInArrow`` pass over the
``(measurement, payload)`` rows — one Python call per Arrow batch
(~10k packets), not per packet (the reference pays one Python callback
per message). For the default codec that call is a few numpy and Arrow
kernels per measurement: one ``np.frombuffer`` over the payloads' data
buffer yields every epoch and channel value, and the fan-out to one
point per channel (T2) is a repeat and a tile. Only decoders registered
with ``register_decoder`` run per packet.
"""

from __future__ import annotations

import math
import struct
from collections.abc import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.functions import pandas_udf

TIME_PACKET_SIZE = 4  # reference: src/helpers/consts.py:15

# Per-measurement channel schemas, exactly the reference's decoded field
# sets (tests/config/consts.py:60-138), alphabetical like dict listings.
FX_FIELDS = (
    "ac_mode", "aux_on", "battery_voltage", "buy_current", "chg_current",
    "error_mode", "input_voltage", "inverter_current", "is_230v", "misc",
    "operational_mode", "output_voltage", "sell_current", "warnings",
)
MX_FIELDS = (
    "amp_hours", "aux_mode", "aux_state", "bat_current", "bat_voltage",
    "errors", "kilowatt_hours", "pv_current", "pv_voltage", "status",
)
DC_FIELDS = (
    "bat_ah_today", "bat_current", "bat_kwh_today", "bat_net_ah",
    "bat_net_kwh", "bat_power", "bat_voltage", "days_since_full", "flags",
    "in_ah_today", "in_current", "in_kwh_today", "in_power",
    "min_soc_today", "out_ah_today", "out_current", "out_kwh_today",
    "out_power", "shunta_ah_today", "shunta_current", "shunta_kwh_today",
    "shunta_power", "shuntb_ah_today", "shuntb_current",
    "shuntb_kwh_today", "shuntb_power", "shuntc_ah_today",
    "shuntc_current", "shuntc_kwh_today", "shuntc_power",
    "state_of_charge",
)
MEASUREMENT_FIELDS: dict[str, tuple[str, ...]] = {
    "dc-1": DC_FIELDS,   # 31 channels
    "fx-1": FX_FIELDS,   # 14 channels
    "mx-1": MX_FIELDS,   # 10 channels
}

# Per-type trailing padding the reference strips (mqtt_classes.py:237,254,271).
PADDING_AT_END = {"dc-1": 3, "fx-1": 2, "mx-1": 2}


def detach_time(msg: bytes, padding_at_end: int = 0) -> tuple[int, bytes]:
    """Split a packet into (epoch seconds, payload) — reference F1.

    Matches ``mqtt_classes.py:28-38`` bit-for-bit on its golden fixture,
    including the little-endian ``struct.unpack("i", ...)`` read. The
    reference's ``padding_at_end=0`` empty-slice bug (``msg[4:-0]`` →
    ``b""``, SURVEY §2.11.5) is corrected: 0 means "no trailing padding".
    """
    (epoch,) = struct.unpack("<i", bytes(msg[:TIME_PACKET_SIZE]))
    end = len(msg) - padding_at_end
    return epoch, bytes(msg[TIME_PACKET_SIZE:end])


# ---------------------------------------------------------------------------
# Pluggable decoder registry (reference F2-F4)
# ---------------------------------------------------------------------------

Decoder = Callable[[bytes], dict]


def _codec_decoder(fields: tuple[str, ...]) -> Decoder:
    """Default decoder: payload is the channels' float64 values packed
    little-endian in field order (the deterministic stand-in codec).

    The ``codec_fields`` attribute marks it bulk-decodable:
    ``decode_packets`` then decodes a whole Arrow batch with one
    ``np.frombuffer`` instead of per-row ``struct.unpack`` calls."""
    fmt = f"<{len(fields)}d"
    size = struct.calcsize(fmt)

    def _decode(payload: bytes) -> dict:
        values = struct.unpack(fmt, bytes(payload[:size]))
        return dict(zip(fields, values))

    _decode.codec_fields = fields  # type: ignore[attr-defined]
    return _decode


def encode_packet(
    measurement: str,
    epoch: int,
    values: dict[str, float],
    with_padding: bool = True,
) -> bytes:
    """Inverse of the default codec: build a binary packet the way the
    device would — 4-byte little-endian epoch, packed channel values,
    per-type trailing padding bytes. Used by tests and the synthetic
    stream generator; a real deployment swaps in pymate via
    ``register_decoder``."""
    fields = MEASUREMENT_FIELDS[measurement]
    body = struct.pack(
        f"<{len(fields)}d", *(float(values[f]) for f in fields)
    )
    pad = b"\x00" * (PADDING_AT_END[measurement] if with_padding else 0)
    return struct.pack("<i", epoch) + body + pad


def synthetic_packet_udf(measurement: str):
    """Arrow-batched packet builder for tests/benchmarks: (epoch, base)
    → a wire-format packet whose channel i carries ``base + i``. Lets an
    oracle recompute the decode fan-out without touching bytes.

    Encoding is one numpy structured-array write per batch (header +
    channels + zeroed padding laid out by dtype), not per-row
    ``struct.pack``."""
    from pyspark.sql.types import BinaryType

    n = len(MEASUREMENT_FIELDS[measurement])
    pad = PADDING_AT_END[measurement]
    layout = [("epoch", "<i4"), ("vals", "<f8", (n,))]
    if pad:
        layout.append(("pad", f"V{pad}"))
    dtype = np.dtype(layout)

    @pandas_udf(BinaryType())
    def _encode(epoch: pd.Series, base: pd.Series) -> pd.Series:
        rec = np.zeros(len(epoch), dtype=dtype)
        rec["epoch"] = epoch.to_numpy()
        rec["vals"] = base.to_numpy(dtype=np.float64)[:, None] + np.arange(n)[None, :]
        buf, stride = rec.tobytes(), dtype.itemsize
        return pd.Series(
            [buf[i * stride : (i + 1) * stride] for i in range(len(epoch))]
        )

    return _encode


DECODERS: dict[str, Decoder] = {
    m: _codec_decoder(f) for m, f in MEASUREMENT_FIELDS.items()
}


def register_decoder(measurement: str, decoder: Decoder) -> None:
    """Plug in a real packet decoder (e.g. pymate's
    ``DCStatusPacket.from_buffer``) for one measurement."""
    DECODERS[measurement] = decoder


def magnitude(col: Column) -> Column:
    """Leading-numeric-magnitude coercion — reference F6 ``float(value)``
    over pymate stringified values (``"27.4V"`` → 27.4, ``"100%"`` → 100).
    JVM regexp; nulls on non-numeric."""
    return F.regexp_extract(col.cast("string"), r"^-?\d*\.?\d+", 0).try_cast("double")


def _coerce(value) -> float | None:
    """Python-side twin of ``magnitude`` for decoder outputs (handles
    pymate Value objects, bools, ints, "27.4V" strings)."""
    try:
        return float(value)
    except (TypeError, ValueError):
        pass
    s = str(value)
    num = ""
    for ch in s:
        if ch.isdigit() or (ch == "-" and not num) or (ch == "." and "." not in num):
            num += ch
        else:
            break
    try:
        return float(num)
    except ValueError:
        return None


_POINT_SCHEMA = "measurement string, ts timestamp, field string, value double"


def _codec_points(payload: pa.Array, fields: tuple[str, ...], pad: int):
    """Default codec: the payloads of the codec's exact width read as
    one numpy record array over the binary array's data buffer —
    ``<u4`` epoch, the channels' ``<f8`` values, pad bytes."""
    layout = [("epoch", "<u4"), ("vals", "<f8", (len(fields),))]
    if pad:
        layout.append(("pad", f"V{pad}"))
    dtype = np.dtype(layout)
    payload = payload.filter(pc.equal(pc.binary_length(payload), dtype.itemsize))
    n = len(payload)
    if n == 0:
        return None
    _, offsets, data = payload.buffers()
    wide = pa.types.is_large_binary(payload.type)
    start = np.frombuffer(offsets, np.int64 if wide else np.int32)[payload.offset]
    rec = np.frombuffer(data, dtype=dtype, count=n, offset=int(start))
    k = len(fields)
    ts = np.repeat(rec["epoch"].astype(np.int64) * 1_000_000, k)
    field = pa.array(fields).take(np.tile(np.arange(k), n))
    return ts, field, rec["vals"].reshape(-1)


def _decoder_points(payload: pa.Array, decoder: Decoder, fields, pad: int):
    """A registered decoder: per packet, payload → dict → ``_coerce``,
    NaN → null; a packet whose decode raises is dropped (reference T8:
    errors are isolated, the pipeline never dies —
    ``mqtt_classes.py:289-296``)."""
    ts, field, value = [], [], []
    for p in payload.to_pylist():
        if p is None:
            continue
        try:
            raw = decoder(p[TIME_PACKET_SIZE:max(len(p) - pad, TIME_PACKET_SIZE)])
            keys = fields if fields is not None else tuple(raw)
            row = [_coerce(raw.get(k)) for k in keys]
        except Exception:
            continue
        epoch = int.from_bytes(p[:TIME_PACKET_SIZE], "little") if p else None
        ts += [None if epoch is None else epoch * 1_000_000] * len(keys)
        field += keys
        value += [None if v is not None and math.isnan(v) else v for v in row]
    if not field:
        return None
    return ts, pa.array(field, pa.string()), value


def _decode_batch(batch: pa.RecordBatch, decoders: dict[str, Decoder]):
    """One Arrow batch of ``(measurement, payload)`` rows → one point
    batch per decodable measurement in it."""
    measurement, payload = batch.column(0), batch.column(1)
    for m in pc.unique(measurement).to_pylist():
        decoder = decoders.get(m)
        if decoder is None:
            continue
        rows = payload.filter(pc.equal(measurement, m))
        pad = PADDING_AT_END.get(m, 0)
        fields = getattr(decoder, "codec_fields", None)
        if fields is not None:
            points = _codec_points(rows, fields, pad)
        else:
            points = _decoder_points(rows, decoder, MEASUREMENT_FIELDS.get(m), pad)
        if points is None:
            continue
        ts, field, value = points
        yield pa.RecordBatch.from_arrays(
            [pa.repeat(m, len(field)), pa.array(ts, pa.timestamp("us", "UTC")),
             field, pa.array(value, pa.float64())],
            ["measurement", "ts", "field", "value"],
        )


def decode_packets(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Full decode pipeline over a (measurement, payload) DataFrame —
    batch or streaming identically.

    One ``mapInArrow`` pass decodes and unpivots (T2: one packet → N
    single-field points) each Arrow batch of ``(measurement, payload)``
    rows. Output: ``(measurement, ts, field, value)`` — the engine's
    canonical point schema (SURVEY §1.3). The first 4 bytes are the
    epoch, read as an UNSIGNED little-endian int (``detach_time``
    reads them signed, like the reference; the two differ only from
    2³¹ s, in 2038). The payload is the bytes between the epoch and the
    measurement's trailing padding. Packets of an unknown measurement
    are dropped.

    Default-codec measurements decode in bulk: the packets of the
    codec's exact width are one ``np.frombuffer`` record array, and a
    packet of any other width is dropped. Decoders registered with
    ``register_decoder`` run per packet; a packet whose decoder raises
    is dropped, and NaN or a missing key gives a null value. They must
    emit the measurement's registered field set (extra keys are
    ignored); for a measurement without one, the dict's keys name the
    fields.

    The decoder registry is snapshotted into the pass's closure: Spark's
    Python workers import this module themselves, so a pass that read
    the module-level ``DECODERS`` at execution time would see each
    worker's own pristine copy, and ``register_decoder`` calls on the
    driver would silently not propagate.

    The pass is opaque to the optimizer: a filter on its output is not
    pushed below it, so filter the raw rows before calling this (as
    ``ingest.data_points`` does with ``devices``).
    """
    decoders = dict(DECODERS)

    def _points(batches):
        for batch in batches:
            yield from _decode_batch(batch, decoders)

    return df.select("measurement", F.col(payload_col).alias("payload")).mapInArrow(
        _points, _POINT_SCHEMA
    )
