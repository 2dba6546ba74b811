"""Streaming ingest tests: decode golden parity, codec roundtrip, topic
routing, end-to-end file-stream ingest with online gating, and the
streaming windowed rollup. Mirrors the reference's test strategy
(``tests/classes/test_mqtt_classes.py``): golden byte fixtures through
the decode path, status transitions, topic routing."""

from __future__ import annotations

import os
import struct
from datetime import datetime

import pytest
from pyspark.sql import Row, functions as F

from solar_logger_spark.streaming import decode as D
from solar_logger_spark.streaming import ingest as I


def _packet(measurement: str, epoch: int, seed: float) -> tuple[bytes, dict]:
    fields = D.MEASUREMENT_FIELDS[measurement]
    values = {f: round(seed + i * 0.5, 3) for i, f in enumerate(fields)}
    return D.encode_packet(measurement, epoch, values), values


# ---------------------------------------------------------------------------
# detach_time — golden parity with the reference fixture
# ---------------------------------------------------------------------------

def test_detach_time_reference_golden():
    # reference tests/classes/test_mqtt_classes.py:62-66 —
    # detach_time(FX bytes) == (67108864, b"t\x00\x04\x00\x02\x01\x12")
    msg = b"\x00\x00\x00\x04t\x00\x04\x00\x02\x01\x12\t\x00"
    epoch, payload = D.detach_time(msg, padding_at_end=2)
    assert epoch == 67108864
    assert payload == b"t\x00\x04\x00\x02\x01\x12"


def test_detach_time_zero_padding_keeps_payload():
    # corrected §2.11.5: padding 0 must NOT produce an empty slice
    epoch, payload = D.detach_time(b"\x01\x00\x00\x00abc", padding_at_end=0)
    assert epoch == 1
    assert payload == b"abc"


def test_codec_roundtrip():
    for m in D.MEASUREMENT_FIELDS:
        pkt, values = _packet(m, 1704067200, 3.25)
        epoch, body = D.detach_time(pkt, D.PADDING_AT_END[m])
        assert epoch == 1704067200
        assert D.DECODERS[m](body) == values


def test_register_decoder_override():
    orig = D.DECODERS["fx-1"]
    try:
        D.register_decoder("fx-1", lambda b: {"battery_voltage": "27.4V"})
        assert D.DECODERS["fx-1"](b"")["battery_voltage"] == "27.4V"
    finally:
        D.register_decoder("fx-1", orig)


def test_magnitude_coercion(spark):
    df = spark.createDataFrame(
        [("27.4V",), ("3.2kWh",), ("100%",), ("-2.4A",), ("junk",)], ["v"]
    )
    got = [r[0] for r in df.select(D.magnitude(F.col("v"))).collect()]
    assert got == [27.4, 3.2, 100.0, -2.4, None]


# ---------------------------------------------------------------------------
# decode_packets — batch plan over binary columns
# ---------------------------------------------------------------------------

def test_decode_packets_unpivots_all_fields(spark):
    rows, want = [], {}
    for m, seed in [("dc-1", 1.0), ("fx-1", 2.0), ("mx-1", 3.0)]:
        pkt, values = _packet(m, 1704070000, seed)
        rows.append(Row(measurement=m, payload=pkt))
        want[m] = values
    out = D.decode_packets(spark.createDataFrame(rows)).collect()
    assert len(out) == 31 + 14 + 10  # T2 fan-out: one point per channel
    for r in out:
        assert r.ts == datetime(2024, 1, 1, 0, 46, 40)
        assert r.value == pytest.approx(want[r.measurement][r.field])


def test_decode_packets_isolates_bad_rows(spark):
    good, values = _packet("mx-1", 1704070000, 5.0)
    df = spark.createDataFrame(
        [
            Row(measurement="mx-1", payload=good),
            Row(measurement="mx-1", payload=b"\x01\x00\x00\x00short"),  # T8
            Row(measurement="unknown", payload=good),
        ]
    )
    out = D.decode_packets(df).collect()
    assert len(out) == len(D.MX_FIELDS)  # bad rows dropped, stream alive


def test_decode_packets_pins_decode_semantics(spark):
    # The decode contract over both decoder kinds. Default codec: a
    # payload of the wrong length and an unknown measurement are dropped,
    # and the 4 epoch bytes read as UNSIGNED little-endian (detach_time
    # reads them signed, like the reference). Registered decoder: a row
    # whose decoder raises is dropped (T8); NaN and a missing key give a
    # null value; "27.4V" coerces to 27.4.
    mx, mx_values = _packet("mx-1", 1704070000, 5.0)
    # 67108864 is the reference's golden epoch bytes (\x00\x00\x00\x04);
    # 2**31 + 12345 has the top bit set
    epochs = (1704070000, 1, 67108864, 2**31 + 12345)
    pad = b"\x00" * D.PADDING_AT_END["fx-1"]

    def fx_decoder(body: bytes) -> dict:
        if body == b"raise":
            raise ValueError("undecodable")
        out = {f: str(i) for i, f in enumerate(D.FX_FIELDS)}
        out["battery_voltage"] = "27.4V"
        out["chg_current"] = float("nan")
        del out["misc"]
        return out

    rows = [("mx-1", struct.pack("<I", e) + mx[4:]) for e in epochs] + [
        ("mx-1", mx[:-1]),
        ("mx-1", mx + b"\x00"),
        ("unknown", mx),
        ("fx-1", struct.pack("<i", 1704070001) + b"raise" + pad),
        ("fx-1", struct.pack("<i", 1704070002) + b"ok" + pad),
    ]
    orig = D.DECODERS["fx-1"]
    large_var_types = "spark.sql.execution.arrow.useLargeVarTypes"
    got = []
    try:
        D.register_decoder("fx-1", fx_decoder)
        points = D.decode_packets(spark.createDataFrame(rows, ["measurement", "payload"]))
        # binary columns reach Python with 32-bit offsets, or 64-bit ones
        # under this setting
        for large in ("false", "true"):
            spark.conf.set(large_var_types, large)
            got.append({
                (r.measurement, r.epoch, r.field): r.value
                for r in points.select(
                    "measurement", F.unix_seconds("ts").alias("epoch"), "field", "value"
                ).collect()
            })
    finally:
        spark.conf.unset(large_var_types)
        D.register_decoder("fx-1", orig)
    want = {("mx-1", e, f): v for e in epochs for f, v in mx_values.items()}
    want |= {("fx-1", 1704070002, f): float(i) for i, f in enumerate(D.FX_FIELDS)}
    want[("fx-1", 1704070002, "battery_voltage")] = 27.4
    want[("fx-1", 1704070002, "chg_current")] = None
    want[("fx-1", 1704070002, "misc")] = None
    assert points.count() == len(want) == 4 * 10 + 14
    assert got == [want, want]


# ---------------------------------------------------------------------------
# topic routing + status branch
# ---------------------------------------------------------------------------

def _raw_df(spark, rows):
    return spark.createDataFrame(rows, I.RAW_SCHEMA)


def test_split_topic_routing(spark):
    ts = datetime(2024, 1, 1)
    df = _raw_df(
        spark,
        [
            ("mate/status", b"online", ts),
            ("mate/dc-1/status", b"online", ts),
            ("mate/fx-1/fx-status", b"x", ts),
            ("mate/mx-1/mx-status", b"x", ts),
            ("mate/dc-1/stat/raw", b"x", ts),
        ],
    )
    got = {r.topic: (r.device, r.kind) for r in I.split_topic(df).collect()}
    assert got == {
        "mate/status": ("mate", "status"),
        "mate/dc-1/status": ("dc-1", "status"),
        "mate/fx-1/fx-status": ("fx-1", "data"),
        "mate/mx-1/mx-status": ("mx-1", "data"),
        "mate/dc-1/stat/raw": ("dc-1", "other"),
    }


def test_gated_batch_drops_offline_device(spark):
    ts = datetime(2024, 1, 1, 0, 0, 0)
    fx_pkt, _ = _packet("fx-1", 1704067200, 1.0)
    mx_pkt, _ = _packet("mx-1", 1704067200, 2.0)
    raw = _raw_df(
        spark,
        [
            ("mate/fx-1/status", b"online", ts),
            ("mate/mx-1/status", b"online", ts),
            # later transition wins: mx-1 goes offline (status S3 latest)
            ("mate/mx-1/status", b"offline", datetime(2024, 1, 1, 0, 1)),
            ("mate/fx-1/fx-status", fx_pkt, ts),
            ("mate/mx-1/mx-status", mx_pkt, ts),
        ],
    )
    out = I.gated_batch(raw).collect()
    assert {r.measurement for r in out} == {"fx-1"}
    assert len(out) == len(D.FX_FIELDS)


def test_data_points_decodes_once_below_device_gate(spark, tmp_path):
    # One Python pass decodes and unpivots each packet, and the device
    # gate filters the raw rows below it, so a gated-out packet is never
    # decoded. Read from parquet: a local relation would fold the filter
    # away before the plan is built.
    ts = datetime(2024, 1, 1)
    rows = [
        (f"mate/{m}/{m[:2]}-status", _packet(m, 1704067200, 1.0)[0], ts)
        for m in D.MEASUREMENT_FIELDS
    ]
    _raw_df(spark, rows).write.parquet(str(tmp_path / "raw"))
    points = I.data_points(
        spark.read.parquet(str(tmp_path / "raw")), devices=["dc-1", "fx-1"]
    )
    out = points.collect()
    assert sorted({r.measurement for r in out}) == ["dc-1", "fx-1"]
    assert len(out) == len(D.DC_FIELDS) + len(D.FX_FIELDS)
    plan = points._jdf.queryExecution().executedPlan().toString().splitlines()
    python_nodes = [i for i, line in enumerate(plan) if "Python" in line or "MapInArrow" in line]
    assert len(python_nodes) == 1 and "MapInArrow" in plan[python_nodes[0]], plan
    assert not any("ArrowEvalPython" in line or "Generate" in line for line in plan), plan
    gate = [i for i, line in enumerate(plan) if "Filter" in line and "IN (dc-1,fx-1)" in line]
    assert gate and gate[0] > python_nodes[0], plan


# ---------------------------------------------------------------------------
# end-to-end streaming: file replay → decode → gate → partitioned sink
# ---------------------------------------------------------------------------

def _dim_rows(spark, dim_dir):
    from solar_logger_spark.io import merge as M

    return {
        r.device: (r.status, r.ts)
        for r in M.read_table_snapshot(spark, dim_dir).collect()
    }


def _dim_status(spark, out_dir):
    rows = _dim_rows(spark, out_dir + "/_status_dim")
    return {device: status for device, (status, _) in rows.items()}


def test_ingest_query_end_to_end(spark, tmp_path):
    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    ts = datetime(2024, 1, 1)
    dc_pkt, dc_values = _packet("dc-1", 1704067200, 7.0)
    mx_pkt, _ = _packet("mx-1", 1704153600, 8.0)  # next day (partitioning)
    batch1 = [
        ("mate/dc-1/status", b"online", ts),
        ("mate/mx-1/status", b"offline", ts),
        ("mate/dc-1/dc-status", dc_pkt, ts),
        ("mate/mx-1/mx-status", mx_pkt, ts),
    ]
    _raw_df(spark, batch1).write.parquet(input_dir)

    q = I.ingest_query(spark, input_dir, out_dir, ckpt)
    q.awaitTermination(120)

    points = spark.read.parquet(out_dir + "/points")
    rows = points.collect()
    # mx-1 offline → gated out; dc-1 fully unpivoted
    assert {r.measurement for r in rows} == {"dc-1"}
    assert len(rows) == len(D.DC_FIELDS)
    got = {r.field: r.value for r in rows}
    for f, v in dc_values.items():
        assert got[f] == pytest.approx(v)
    # restart-safe latest-status dimension, queryable table state
    assert _dim_status(spark, out_dir) == {"dc-1": "online", "mx-1": "offline"}

    # second run: mx-1 comes online — the ts-guarded MERGE advances the
    # dimension and its packets now pass the gate
    _raw_df(
        spark,
        [
            ("mate/mx-1/status", b"online", datetime(2024, 1, 2)),
            ("mate/mx-1/mx-status", mx_pkt, datetime(2024, 1, 2)),
        ],
    ).write.mode("append").parquet(input_dir)
    q2 = I.ingest_query(spark, input_dir, out_dir, ckpt)
    q2.awaitTermination(120)
    rows2 = spark.read.parquet(out_dir + "/points").collect()
    assert {r.measurement for r in rows2} == {"dc-1", "mx-1"}
    assert len(rows2) == len(D.DC_FIELDS) + len(D.MX_FIELDS)
    assert _dim_status(spark, out_dir) == {"dc-1": "online", "mx-1": "online"}


def test_ingest_query_dimension_gate_end_to_end(spark, tmp_path):
    """The composed loop: status sink → maintained snapshot-store
    dimension → dimension-gated points → parquet, delivered in a single
    file so status and packets share one micro-batch. Offline devices
    are gated out, later online status re-admits them, and the
    dimension itself is a queryable latest-per-device table. The
    dimension is the only gate, so the removed ``gate_mode`` switch is
    rejected."""
    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    ts = datetime(2024, 1, 1)
    dc_pkt, dc_values = _packet("dc-1", 1704067200, 7.0)
    mx_pkt, _ = _packet("mx-1", 1704153600, 8.0)
    _raw_df(
        spark,
        [
            ("mate/dc-1/status", b"online", ts),
            ("mate/mx-1/status", b"offline", ts),
            ("mate/dc-1/dc-status", dc_pkt, ts),
            ("mate/mx-1/mx-status", mx_pkt, ts),
        ],
    ).coalesce(1).write.parquet(input_dir)

    q = I.ingest_query(spark, input_dir, out_dir, ckpt)
    q.awaitTermination(120)

    rows = spark.read.parquet(out_dir + "/points").collect()
    assert {r.measurement for r in rows} == {"dc-1"}
    assert len(rows) == len(D.DC_FIELDS)
    got = {r.field: r.value for r in rows}
    for f, v in dc_values.items():
        assert got[f] == pytest.approx(v)
    # the maintained dimension is independently queryable table state
    assert _dim_status(spark, out_dir) == {"dc-1": "online", "mx-1": "offline"}

    # second delivery: mx-1 comes online — the ts-guarded MERGE
    # advances the dimension and its packets now pass the gate
    _raw_df(
        spark,
        [
            ("mate/mx-1/status", b"online", datetime(2024, 1, 2)),
            ("mate/mx-1/mx-status", mx_pkt, datetime(2024, 1, 2)),
        ],
    ).coalesce(1).write.mode("append").parquet(input_dir)
    q2 = I.ingest_query(spark, input_dir, out_dir, ckpt)
    q2.awaitTermination(120)
    rows2 = spark.read.parquet(out_dir + "/points").collect()
    assert {r.measurement for r in rows2} == {"dc-1", "mx-1"}
    assert len(rows2) == len(D.DC_FIELDS) + len(D.MX_FIELDS)
    assert _dim_status(spark, out_dir) == {"dc-1": "online", "mx-1": "online"}

    with pytest.raises(TypeError, match="gate_mode"):
        I.IngestBatchProcessor(out_dir, gate_mode="nope")


def test_windowed_rollup_stream(spark, tmp_path):
    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    base = 1704067200  # 2024-01-01T00:00:00Z
    rows = []
    # two 1h windows + a far-future packet that drags the watermark past
    # both so append mode flushes them
    for minute, bv in [(0, 10.0), (10, 20.0), (70, 40.0), (600, 1.0)]:
        values = {f: bv for f in D.MX_FIELDS}
        pkt = D.encode_packet("mx-1", base + minute * 60, values)
        rows.append(("mate/mx-1/mx-status", pkt, datetime(2024, 1, 1)))
    _raw_df(spark, rows).write.parquet(input_dir)

    q = I.windowed_rollup_query(
        spark, input_dir, out_dir, ckpt, every="1 hour", agg="mean",
        available_now=False,
    )
    import time as _time

    got = {}
    deadline = _time.time() + 120
    while _time.time() < deadline and len(got) < 2:
        _time.sleep(2)
        try:
            got = {
                (r.ts, r.field): r.mean_value
                for r in spark.read.parquet(out_dir)
                .filter(F.col("field") == "bat_voltage")
                .collect()
            }
        except Exception:
            got = {}
    q.stop()
    # Flux-style stop-labeled windows
    assert got[(datetime(2024, 1, 1, 1, 0), "bat_voltage")] == pytest.approx(15.0)
    assert got[(datetime(2024, 1, 1, 2, 0), "bat_voltage")] == pytest.approx(40.0)


# ---------------------------------------------------------------------------
# MQTT source: API surface only (paho not installed here)
# ---------------------------------------------------------------------------

def test_mqtt_source_registers_or_degrades(spark):
    from solar_logger_spark.streaming import mqtt_source as M

    if not M._DATASOURCE_API:
        pytest.skip("Python Data Source API unavailable")
    assert M.register(spark) is True
    assert M.MqttDataSource.name() == "mqtt"
    assert "payload binary" in M.MqttDataSource({}).schema()


def test_mqtt_reader_falls_back_to_stdlib_wire_client(monkeypatch):
    """Without paho the default factory resolves to the stdlib MQTT
    wire client (mqtt_wire.socket_client) instead of raising — the live
    path needs no third-party package (tests/test_mqtt_live.py drives
    it over a real socket)."""
    from solar_logger_spark.streaming import mqtt_source as M
    from solar_logger_spark.streaming import mqtt_wire as W

    try:
        import paho  # noqa: F401

        pytest.skip("paho installed; default factory would prefer it")
    except ImportError:
        pass

    seen = {}

    def fake_socket_client(options, push):
        seen["options"], seen["push"] = options, push
        return object()

    monkeypatch.setattr(W, "socket_client", fake_socket_client)
    reader = M.MqttStreamReader({"host": "h", "port": "1"})
    assert seen["options"] == {"host": "h", "port": "1"}
    assert seen["push"] == reader.push


# ---------------------------------------------------------------------------
# stateful gate: applyInPandasWithState keeps last status across batches
# ---------------------------------------------------------------------------

def test_stateful_gate_across_batches(spark, tmp_path):
    from solar_logger_spark.streaming.stateful import stateful_gated_stream
    from solar_logger_spark.streaming.ingest import RAW_SCHEMA

    input_dir = tmp_path / "in"
    input_dir.mkdir()
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    fx_pkt, _ = _packet("fx-1", 1704067200, 1.0)

    # file 1 (batch 1): fx online, one data msg (passes), then offline,
    # another data msg (dropped) — in-batch ordering matters
    b1 = [
        ("mate/fx-1/status", b"online", datetime(2024, 1, 1, 0, 0)),
        ("mate/fx-1/fx-status", fx_pkt, datetime(2024, 1, 1, 0, 1)),
        ("mate/fx-1/status", b"offline", datetime(2024, 1, 1, 0, 2)),
        ("mate/fx-1/fx-status", fx_pkt, datetime(2024, 1, 1, 0, 3)),
    ]
    # file 2 (batch 2): no status message — the carried state (offline)
    # must gate this one out
    b2 = [
        ("mate/fx-1/fx-status", fx_pkt, datetime(2024, 1, 1, 0, 4)),
    ]
    spark.createDataFrame(b1, RAW_SCHEMA).coalesce(1).write.parquet(
        str(input_dir / "f1")
    )
    spark.createDataFrame(b2, RAW_SCHEMA).coalesce(1).write.parquet(
        str(input_dir / "f2")
    )

    raw = (
        spark.readStream.schema(RAW_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(input_dir) + "/*")
    )
    q = (
        stateful_gated_stream(raw)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = spark.read.parquet(out_dir).collect()
    assert len(rows) == 1  # only the while-online message survives
    assert rows[0].arrival_ts == datetime(2024, 1, 1, 0, 1)


def test_dedup_stream_drops_redelivered_points(spark, tmp_path):
    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    pkt, _ = _packet("mx-1", 1704067200, 1.0)
    rows = [
        ("mate/mx-1/mx-status", pkt, datetime(2024, 1, 1)),
        ("mate/mx-1/mx-status", pkt, datetime(2024, 1, 1)),  # redelivery
    ]
    _raw_df(spark, rows).write.parquet(input_dir)

    raw = spark.readStream.schema(I.RAW_SCHEMA).parquet(input_dir)
    deduped = I.dedup_stream(I.data_points(raw))
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows_out = spark.read.parquet(out_dir).collect()
    assert len(rows_out) == len(D.MX_FIELDS)  # one copy, not two


def test_mqtt_reader_logic_with_fake_paho(monkeypatch):
    """Drive MqttStreamReader's buffer/offset/replay protocol with a
    stubbed paho module — the transport contract, minus the network."""
    import sys
    import types

    calls = {}

    class FakeClient:
        def __init__(self, *a, **k):
            calls["client"] = self

        def username_pw_set(self, u, t):
            calls["auth"] = (u, t)

        def tls_set(self):
            calls["tls"] = True

        def connect(self, host, port):
            calls["connect"] = (host, port)
            # paho fires on_connect from the network loop; emulate it
            self.on_connect(self, None, None, 0)

        def loop_start(self):
            calls["loop"] = True

        def subscribe(self, topic, qos=0):
            calls["subscribe"] = (topic, qos)

    fake_mqtt = types.ModuleType("paho.mqtt.client")
    fake_mqtt.Client = FakeClient
    fake_paho = types.ModuleType("paho")
    fake_paho_mqtt = types.ModuleType("paho.mqtt")
    monkeypatch.setitem(sys.modules, "paho", fake_paho)
    monkeypatch.setitem(sys.modules, "paho.mqtt", fake_paho_mqtt)
    monkeypatch.setitem(sys.modules, "paho.mqtt.client", fake_mqtt)

    from solar_logger_spark.streaming.mqtt_source import MqttStreamReader

    reader = MqttStreamReader(
        {"host": "h", "port": "1883", "user": "u", "token": "t",
         "topic": "mate/#", "qos": "1", "tls": "false"}
    )
    assert calls["connect"] == ("h", 1883)
    assert calls["subscribe"] == ("mate/#", 1)
    assert calls["auth"] == ("u", "t")
    assert "tls" not in calls  # tls=false honored

    client = calls["client"]

    class Msg:
        topic = "mate/mx-1/mx-status"
        payload = b"\x01\x02"

    assert reader.initialOffset() == {"n": 0}
    client.on_message(client, None, Msg())
    client.on_message(client, None, Msg())

    rows, end = reader.read({"n": 0})
    rows = list(rows)
    assert end == {"n": 1}
    assert len(rows) == 2
    assert rows[0][0] == "mate/mx-1/mx-status" and rows[0][1] == b"\x01\x02"

    # retry path: same batch replays between the same offsets
    replay = list(reader.readBetweenOffsets({"n": 0}, {"n": 1}))
    assert [(t, p) for t, p, _ in replay] == [(t, p) for t, p, _ in rows]

    # next read drains nothing (buffer empty), offset still advances
    rows2, end2 = reader.read(end)
    assert list(rows2) == [] and end2 == {"n": 2}
    reader.commit(end2)


def test_ingest_batch_replay_is_idempotent(spark, tmp_path):
    """Crash-replay of a committed epoch must not duplicate points."""
    from solar_logger_spark.streaming.ingest import IngestBatchProcessor

    out = str(tmp_path / "store")
    pkt, _ = _packet("mx-1", 1704067200, 2.0)
    batch = _raw_df(
        spark,
        [
            ("mate/mx-1/status", b"online", datetime(2024, 1, 1)),
            ("mate/mx-1/mx-status", pkt, datetime(2024, 1, 1)),
        ],
    )
    proc = IngestBatchProcessor(out)
    proc(batch, epoch_id=7)
    n1 = spark.read.parquet(out + "/points").count()
    proc(batch, epoch_id=7)  # at-least-once replay of the same epoch
    n2 = spark.read.parquet(out + "/points").count()
    assert n1 == n2 == len(D.MX_FIELDS)
    proc(batch, epoch_id=8)  # a genuinely new batch still appends
    assert spark.read.parquet(out + "/points").count() == 2 * len(D.MX_FIELDS)


def test_session_rollup_stream(spark, tmp_path):
    """Streaming session windows: two bursts separated by > gap become
    two sessions per (measurement, field)."""
    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    base = 1704067200
    rows = []
    # burst 1: 0s, 60s; burst 2: 1h later; flush record far ahead
    for off, bv in [(0, 10.0), (60, 20.0), (3600, 40.0), (90000, 1.0)]:
        values = {f: bv for f in D.MX_FIELDS}
        pkt = D.encode_packet("mx-1", base + off, values)
        rows.append(("mate/mx-1/mx-status", pkt, datetime(2024, 1, 1)))
    _raw_df(spark, rows).write.parquet(input_dir)

    q = I.windowed_rollup_query(
        spark, input_dir, out_dir, ckpt,
        agg="mean", session_gap="10 minutes", available_now=False,
    )
    import time as _time

    got = {}
    deadline = _time.time() + 120
    while _time.time() < deadline and len(got) < 2:
        _time.sleep(2)
        try:
            got = {
                r.ts: r.mean_value
                for r in spark.read.parquet(out_dir)
                .filter(F.col("field") == "bat_voltage")
                .collect()
            }
        except Exception:
            got = {}
    q.stop()
    # session windows are labeled by their (extended) end: last event + gap
    assert got[datetime(2024, 1, 1, 0, 11, 0)] == pytest.approx(15.0)
    assert got[datetime(2024, 1, 1, 1, 10, 0)] == pytest.approx(40.0)


def test_running_increase_carries_state_across_batches(spark, tmp_path):
    """Streaming increase(): counter advances accumulate, resets
    contribute zero, and state survives micro-batch boundaries."""
    from solar_logger_spark.streaming.counters import running_increase

    input_dir = tmp_path / "in"
    input_dir.mkdir()
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def mx_packet(epoch, kwh):
        values = {f: 0.0 for f in D.MX_FIELDS}
        values["kilowatt_hours"] = kwh
        return D.encode_packet("mx-1", epoch, values)

    base = 1704067200
    # batch 1: 1.0 → 3.5 (adv 2.5); batch 2: reset to 0.5 (adv 0), → 2.0 (adv 1.5)
    b1 = [("mate/mx-1/mx-status", mx_packet(base + i * 60, v), datetime(2024, 1, 1))
          for i, v in [(0, 1.0), (1, 3.5)]]
    b2 = [("mate/mx-1/mx-status", mx_packet(base + i * 60, v), datetime(2024, 1, 1))
          for i, v in [(2, 0.5), (3, 2.0)]]
    _raw_df(spark, b1).coalesce(1).write.parquet(str(input_dir / "f1"))
    _raw_df(spark, b2).coalesce(1).write.parquet(str(input_dir / "f2"))

    raw = (
        spark.readStream.schema(I.RAW_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(input_dir) + "/*")
    )
    q = (
        running_increase(I.data_points(raw))
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    rows = (
        spark.read.parquet(out_dir)
        .filter(F.col("field") == "kilowatt_hours")
        .orderBy("ts")
        .collect()
    )
    assert [r.value for r in rows] == [1.0, 3.5, 0.5, 2.0]
    assert [r.increase for r in rows] == [0.0, 2.5, 2.5, 4.0]


def test_watermark_drops_too_late_event(spark, tmp_path):
    """T4 pinned: an event arriving after the watermark passed its
    window is excluded from the rollup (the reference would happily
    write it; our policy is explicit and bounded)."""
    import os
    import time as _time

    input_dir = tmp_path / "in"
    input_dir.mkdir()
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    base = 1704067200  # 2024-01-01T00:00:00Z

    def mx(epoch, bv):
        values = {f: bv for f in D.MX_FIELDS}
        return D.encode_packet("mx-1", epoch, values)

    # batch 0: events at 00:05 and 06:00 → watermark advances to 05:50
    b0 = [
        ("mate/mx-1/mx-status", mx(base + 300, 10.0), datetime(2024, 1, 1)),
        ("mate/mx-1/mx-status", mx(base + 6 * 3600, 1.0), datetime(2024, 1, 1)),
    ]
    # batch 1: any event — triggers eviction/emission of the now-closed
    # [00:00,01:00) window (rows may still join a window until the batch
    # whose operative watermark passed it evicts the state)
    b1 = [("mate/mx-1/mx-status", mx(base + 7 * 3600, 1.0), datetime(2024, 1, 1))]
    # batch 2: a 00:10 straggler — its window is emitted and gone
    b2 = [("mate/mx-1/mx-status", mx(base + 600, 99.0), datetime(2024, 1, 1))]
    # batch 3: far-future flush so pending windows emit
    b3 = [("mate/mx-1/mx-status", mx(base + 48 * 3600, 2.0), datetime(2024, 1, 1))]

    for i, batch in enumerate([b0, b1, b2, b3]):
        path = str(input_dir / f"f{i}")
        _raw_df(spark, batch).coalesce(1).write.parquet(path)
        # file source orders batches by modification time — pin it
        for root, _, files in os.walk(path):
            for f in files:
                os.utime(os.path.join(root, f), (1000 + i, 1000 + i))
        os.utime(path, (1000 + i, 1000 + i))

    raw = (
        spark.readStream.schema(I.RAW_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(input_dir) + "/*")
    )
    rollup = (
        I.data_points(raw)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "measurement", "field")
        .agg(F.avg("value").alias("mean_value"))
        .select(F.col("window.end").alias("ts"), "field", "mean_value")
    )
    q = (
        rollup.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    rows = (
        spark.read.parquet(out_dir)
        .filter(F.col("field") == "bat_voltage")
        .collect()
    )
    first_window = [r for r in rows if r.ts == datetime(2024, 1, 1, 1, 0)]
    # the 00:00-01:00 window emitted once, holding ONLY the on-time
    # 00:05 event — the 00:10 straggler (value 99) was dropped, not
    # averaged in and not emitted as a duplicate window
    assert len(first_window) == 1
    assert first_window[0].mean_value == pytest.approx(10.0)


def test_stream_stream_gate_interval_join(spark, tmp_path):
    """Stream-stream form of the gate: data passes only with an online
    heartbeat within the validity interval before it."""
    from solar_logger_spark.streaming.stateful import stream_stream_gated

    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    pkt, _ = _packet("mx-1", 1704067200, 1.0)
    rows = [
        ("mate/mx-1/status", b"online", datetime(2024, 1, 1, 0, 0)),
        # covered: 30 min after the heartbeat (validity 1h)
        ("mate/mx-1/mx-status", pkt, datetime(2024, 1, 1, 0, 30)),
        # not covered: 3h after the last heartbeat
        ("mate/mx-1/mx-status", pkt, datetime(2024, 1, 1, 3, 0)),
        # fx-1 never reported online at all
        ("mate/fx-1/fx-status", pkt, datetime(2024, 1, 1, 0, 30)),
    ]
    _raw_df(spark, rows).write.parquet(input_dir)

    raw = spark.readStream.schema(I.RAW_SCHEMA).parquet(input_dir)
    q = (
        stream_stream_gated(raw, status_validity="1 hour")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    out = spark.read.parquet(out_dir).collect()
    assert len(out) == 1
    assert out[0].device == "mx-1"
    assert out[0].arrival_ts == datetime(2024, 1, 1, 0, 30)


def test_windowed_rollup_streaming_approx_distinct(spark, tmp_path):
    """Distinct-ish aggregation on the live stream: exact COUNT DISTINCT
    is not streamable in append mode, approx_count_distinct (HLL) is —
    the rollup accepts it like any other F-named aggregate."""
    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    base = 1704067200
    rows = []
    # window 1: three packets, two distinct values per field
    for minute, bv in [(0, 10.0), (10, 20.0), (20, 10.0), (600, 1.0)]:
        values = {f: bv for f in D.MX_FIELDS}
        pkt = D.encode_packet("mx-1", base + minute * 60, values)
        rows.append(("mate/mx-1/mx-status", pkt, datetime(2024, 1, 1)))
    _raw_df(spark, rows).write.parquet(input_dir)

    q = I.windowed_rollup_query(
        spark, input_dir, out_dir, ckpt,
        every="1 hour", agg="approx_count_distinct", available_now=False,
    )
    import time as _time

    got = {}
    deadline = _time.time() + 120
    while _time.time() < deadline and not got:
        _time.sleep(2)
        try:
            got = {
                r.ts: r.approx_count_distinct_value
                for r in spark.read.parquet(out_dir)
                .filter(F.col("field") == "bat_voltage")
                .collect()
            }
        except Exception:
            got = {}
    q.stop()
    # HLL is exact at cardinality 2
    assert got[datetime(2024, 1, 1, 1, 0)] == 2


def test_stream_stream_attribution_join(spark, tmp_path):
    """Watermarked stream-stream interval join: purchases attribute to
    the clicks they follow within 30 minutes, per user; pairs outside
    the band never match."""
    from solar_logger_spark.streaming.joins import stream_attribution_join

    clicks_dir = str(tmp_path / "clicks")
    buys_dir = str(tmp_path / "buys")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    t0 = datetime(2024, 1, 1)

    def ts(minute):
        return t0 + __import__("datetime").timedelta(minutes=minute)

    clicks = [(1, ts(0), "c1"), (1, ts(60), "c2"), (2, ts(5), "c3")]
    buys = [
        (1, ts(10), "b1"),   # within 30m of c1
        (1, ts(75), "b2"),   # within 30m of c2, NOT of c1
        (2, ts(50), "b3"),   # 45m after c3 -> no match
        # far-future row on each side drags both watermarks forward so
        # append mode flushes the joined rows
        (9, ts(6000), "bx"),
    ]
    spark.createDataFrame(
        clicks + [(9, ts(6000), "cx")], "user_id long, ts timestamp, cid string"
    ).write.parquet(clicks_dir)
    spark.createDataFrame(
        buys, "user_id long, ts timestamp, bid string"
    ).write.parquet(buys_dir)

    lc = spark.readStream.schema(
        "user_id long, ts timestamp, cid string"
    ).parquet(clicks_dir)
    rb = spark.readStream.schema(
        "user_id long, ts timestamp, bid string"
    ).parquet(buys_dir)

    joined = stream_attribution_join(
        lc, rb, key="user_id", within="30 minutes", watermark="1 minute"
    )
    q = (
        joined.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = spark.read.parquet(out_dir).collect()
    got = {(r.l_cid, r.r_bid) for r in rows}
    assert got == {("c1", "b1"), ("c2", "b2"), ("cx", "bx")}
    # the join key comes back under its ORIGINAL name
    assert {r.user_id for r in rows} == {1, 9}


def test_attribution_join_rejects_prefix_collisions(spark):
    """Inputs already carrying l_/r_-prefixed names (or a key that
    collides with a generated name) must be rejected up front instead
    of producing ambiguous duplicate output columns."""
    from datetime import datetime
    from solar_logger_spark.streaming.joins import stream_attribution_join

    t = datetime(2024, 1, 1)
    # left has both `ts`-named l_ts source and a literal l_ts? No —
    # collision case: left_ts is `click_ts`, so `ts` maps to l_ts AND
    # the fixed left_ts alias is also l_ts.
    left = spark.createDataFrame([(1, t, t)], "user_id long, click_ts timestamp, ts timestamp")
    right = spark.createDataFrame([(1, t)], "user_id long, ts timestamp")
    with pytest.raises(ValueError, match="l_ts"):
        stream_attribution_join(
            left, right, key="user_id", within="10 minutes",
            watermark="1 minute", left_ts="click_ts", right_ts="ts",
        )


def test_attribution_join_stream_equals_batch(spark, sf_dir, tmp_path):
    """Batch-equivalence differential for the watermarked stream-stream
    band join on REAL corpus data: replaying the events table through
    stream_attribution_join yields exactly the pairs the equivalent
    batch band join produces (a far-future sentinel on each side drags
    the final watermark so append mode flushes the tail; sentinel rows
    are excluded from the comparison)."""
    from datetime import datetime
    from pyspark.sql import functions as F
    from solar_logger_spark.io.tables import load_table
    from solar_logger_spark.streaming.joins import stream_attribution_join

    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("cid")
    )
    buys = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("bid")
    )
    far = datetime(2030, 1, 1)
    sent_c = spark.createDataFrame(
        [(-1, far, -1)], "user_id long, ts timestamp, cid long"
    )
    sent_b = spark.createDataFrame(
        [(-1, far, -1)], "user_id long, ts timestamp, bid long"
    )
    cdir, bdir = str(tmp_path / "c"), str(tmp_path / "b")
    clicks.unionByName(sent_c).coalesce(1).write.parquet(cdir)
    buys.unionByName(sent_b).coalesce(1).write.parquet(bdir)

    lc = spark.readStream.schema(
        "user_id long, ts timestamp, cid long"
    ).parquet(cdir)
    rb = spark.readStream.schema(
        "user_id long, ts timestamp, bid long"
    ).parquet(bdir)
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        stream_attribution_join(
            lc, rb, key="user_id", within="10 minutes",
            watermark="1 minute",
        )
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = {
        (r.l_cid, r.r_bid)
        for r in spark.read.parquet(out_dir).collect()
        if r.user_id != -1
    }

    batch = clicks.alias("l").join(
        buys.alias("r"),
        (F.col("l.user_id") == F.col("r.user_id"))
        & (F.col("r.ts") >= F.col("l.ts"))
        & (F.col("r.ts") <= F.col("l.ts") + F.expr("INTERVAL 10 minutes")),
    )
    expected = {(r.cid, r.bid) for r in batch.select("cid", "bid").collect()}
    assert streamed == expected
    assert len(expected) > 0  # the corpus genuinely exercises the band


# ---------------------------------------------------------------------------
# maintained latest-status dimension (S3 x io/merge)


def test_status_dimension_stream_equals_batch_latest(spark, tmp_path):
    """Streamed status folds through status_dimension_sink == batch
    latest_per_key over the full status history — including a later
    batch redelivering a STALE status, which must not regress the
    dimension (the fold's ts guard); the ingest sink's gate over that
    dimension keeps the points ``gated_batch`` keeps."""
    from solar_logger_spark.operators.asof import latest_per_key

    t = lambda m: datetime(2024, 1, 1, 0, m)  # noqa: E731
    batches = [
        [
            ("mate/dc-1/status", b"online", t(1)),
            ("mate/fx-1/status", b"online", t(2)),
            ("mate/dc-1/status", b"offline", t(3)),
            ("mate/dc-1/1-data", b"junk", t(3)),        # non-status: ignored
        ],
        [
            ("mate/fx-1/status", b"offline", t(10)),
            ("mate/mx-1/status", b"online", t(11)),
        ],
        [
            # stale redelivery: dc-1's old t(1) 'online' arrives AFTER
            # the t(3) 'offline' was persisted — must not win
            ("mate/dc-1/status", b"online", t(1)),
            ("mate/fx-1/status", b"online", t(12)),
        ],
    ]
    input_dir = tmp_path / "in"
    out_dir = str(tmp_path / "out")
    dim_dir = out_dir + "/_status_dim"  # where the ingest sink keeps it
    for i, rows in enumerate(batches):
        _raw_df(spark, rows).coalesce(1).write.parquet(
            str(input_dir / f"f{i}")
        )
    raw = (
        spark.readStream.schema(I.RAW_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(input_dir) + "/*")
    )
    q = (
        raw.writeStream.foreachBatch(I.status_dimension_sink(dim_dir))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = _dim_rows(spark, dim_dir)
    all_raw = _raw_df(spark, [r for b in batches for r in b])
    want = {
        r.device: (r.status, r.ts)
        for r in latest_per_key(
            I.status_updates(all_raw), ["device"], payload_cols=["status"]
        ).collect()
    }
    assert got == want
    assert got["dc-1"] == ("offline", t(3))  # the stale replay lost

    # the maintained dimension gates a batch exactly like gated_batch
    # over the whole status history: dc-1 offline, mx-1 online
    dc_pkt, _ = _packet("dc-1", 1704067200, 7.0)
    mx_pkt, _ = _packet("mx-1", 1704067200, 8.0)
    data = [("mate/dc-1/dc-status", dc_pkt, t(20)), ("mate/mx-1/mx-status", mx_pkt, t(20))]
    I.IngestBatchProcessor(out_dir)(_raw_df(spark, data), 0)
    sunk = spark.read.parquet(out_dir + "/points").collect()
    gated = I.gated_batch(_raw_df(spark, [r for b in batches for r in b] + data)).collect()
    assert {r.measurement for r in sunk} == {r.measurement for r in gated} == {"mx-1"}
    assert len(sunk) == len(gated) == len(D.MX_FIELDS)


def test_legacy_status_table_seeds_dimension(spark, tmp_path):
    """A sink directory written before the status dimension existed
    holds its learned statuses in a ``_status`` parquet table. The
    first batch seeds the dimension from it, so a device last seen
    offline stays gated even when the new delivery carries no status
    messages at all."""
    out_dir = str(tmp_path / "out")
    ts = datetime(2024, 1, 1)
    dc_pkt, _ = _packet("dc-1", 1704067200, 7.0)
    mx_pkt, _ = _packet("mx-1", 1704153600, 8.0)
    # the legacy layout: latest_per_key's (device, ts, status)
    spark.createDataFrame(
        [("dc-1", ts, "online"), ("mx-1", ts, "offline")],
        "device string, ts timestamp, status string",
    ).write.parquet(out_dir + "/_status")
    I.IngestBatchProcessor(out_dir)(
        _raw_df(spark, [
            ("mate/dc-1/dc-status", dc_pkt, ts),
            ("mate/mx-1/mx-status", mx_pkt, ts),  # no status rows here
        ]),
        0,
    )
    assert _dim_status(spark, out_dir) == {"dc-1": "online", "mx-1": "offline"}
    rows = spark.read.parquet(out_dir + "/points").collect()
    assert {r.measurement for r in rows} == {"dc-1"}  # mx-1 stayed gated


def test_status_fold_crash_replays_exactly_once(spark, tmp_path, monkeypatch):
    """A crash inside the status fold — here the ``_CURRENT`` swap, at
    the dimension's bootstrap and at a later MERGE — fails the batch
    before any point is written; replaying the same epoch leaves the
    sink with exactly the online devices' points, none twice."""
    from solar_logger_spark.io import merge as M

    out_dir = str(tmp_path / "out")
    swap = M._swap_pointer
    armed = []

    def crash_once(table_dir, name):
        if armed:
            armed.pop()
            raise OSError("injected crash before the _CURRENT swap")
        swap(table_dir, name)

    monkeypatch.setattr(M, "_swap_pointer", crash_once)
    t = lambda d: datetime(2024, 1, d)  # noqa: E731
    dc_pkt, _ = _packet("dc-1", 1704067200, 7.0)
    mx_pkt, _ = _packet("mx-1", 1704153600, 8.0)
    fx_pkt, _ = _packet("fx-1", 1704240000, 9.0)
    epochs = [
        [
            ("mate/dc-1/status", b"online", t(1)),
            ("mate/mx-1/status", b"offline", t(1)),
            ("mate/dc-1/dc-status", dc_pkt, t(1)),
            ("mate/mx-1/mx-status", mx_pkt, t(1)),
        ],
        [
            ("mate/fx-1/status", b"online", t(2)),
            ("mate/dc-1/status", b"offline", t(2)),
            ("mate/fx-1/fx-status", fx_pkt, t(2)),
            ("mate/dc-1/dc-status", dc_pkt, t(2)),
            ("mate/mx-1/mx-status", mx_pkt, t(2)),
        ],
    ]
    proc = I.IngestBatchProcessor(out_dir)
    for epoch_id, rows in enumerate(epochs):
        batch = _raw_df(spark, rows)
        armed.append(True)
        with pytest.raises(OSError, match="injected crash"):
            proc(batch, epoch_id)
        assert not os.path.exists(proc._commit_marker(epoch_id))
        proc(batch, epoch_id)  # the at-least-once replay

    points = spark.read.parquet(out_dir + "/points")
    assert points.count() == points.dropDuplicates(["measurement", "ts", "field"]).count()
    per_device = {r.measurement: r["count"] for r in points.groupBy("measurement").count().collect()}
    assert per_device == {"dc-1": len(D.DC_FIELDS), "fx-1": len(D.FX_FIELDS)}
    assert _dim_status(spark, out_dir) == {
        "dc-1": "offline", "fx-1": "online", "mx-1": "offline",
    }


# ---------------------------------------------------------------------------
# the driver-held status fold (status_dimension_sink)


def test_status_fold_batches_are_key_idempotent(spark, tmp_path):
    """Within a batch the latest ts wins whatever the row order;
    replaying a batch duplicates nothing; a batch that changes no row
    (a replay, a restarted sink, an empty batch) commits no snapshot."""
    from solar_logger_spark.io import merge as M

    d = str(tmp_path / "dim")
    fold = I.status_dimension_sink(d)
    t = lambda m: datetime(2024, 1, 1, 0, m)  # noqa: E731
    fold(_raw_df(spark, [
        ("mate/dc-1/status", b"offline", t(11)),  # later ts wins
        ("mate/dc-1/status", b"online", t(10)),
        ("mate/fx-1/status", b"online", t(10)),
    ]), 0)
    assert _dim_rows(spark, d) == {"dc-1": ("offline", t(11)), "fx-1": ("online", t(10))}

    b1 = _raw_df(spark, [
        ("mate/fx-1/status", b"offline", t(20)),  # update
        ("mate/mx-1/status", b"online", t(20)),  # insert
    ])
    fold(b1, 1)
    snap = M.current_snapshot(d)
    fold(b1, 1)  # replay of the same batch
    I.status_dimension_sink(d)(b1, 1)  # ... by a restarted sink
    fold(_raw_df(spark, []), 2)
    assert M.current_snapshot(d) == snap
    assert _dim_rows(spark, d) == {
        "dc-1": ("offline", t(11)), "fx-1": ("offline", t(20)), "mx-1": ("online", t(20)),
    }


def test_status_fold_stale_redelivery_cannot_regress(spark, tmp_path):
    """The ts guard holds ACROSS batches: a later batch redelivering an
    older status leaves the newer row, and an equal ts replaces it
    (the MERGE's ``>=``)."""
    d = str(tmp_path / "dim")
    fold = I.status_dimension_sink(d)
    t = lambda m: datetime(2024, 1, 1, 0, m)  # noqa: E731
    fold(_raw_df(spark, [("mate/dc-1/status", b"online", t(40))]), 0)
    fold(_raw_df(spark, [("mate/dc-1/status", b"offline", t(20))]), 1)
    assert _dim_rows(spark, d) == {"dc-1": ("online", t(40))}
    got = fold(_raw_df(spark, [("mate/dc-1/status", b"maint", t(40))]), 2)
    assert _dim_rows(spark, d) == {"dc-1": ("maint", t(40))}
    assert got["dc-1"][1] == "maint"


def test_status_fold_keeps_microseconds(spark, tmp_path):
    """A status ts with non-zero microseconds round-trips exactly: the
    committed row holds it, and a restarted sink that re-reads the
    table sees the same row and commits nothing for a redelivery."""
    from solar_logger_spark.io import merge as M

    d = str(tmp_path / "dim")
    ts = datetime(2024, 3, 9, 12, 34, 56, 123457)
    batch = _raw_df(spark, [("mate/fx-1/status", b"online", ts)])
    got = I.status_dimension_sink(d)(batch, 0)
    assert _dim_rows(spark, d) == {"fx-1": ("online", ts)}
    (want_us,) = spark.createDataFrame([(ts,)], "ts timestamp").select(
        F.unix_micros("ts")
    ).first()
    assert want_us % 1_000_000 == 123457
    assert got == {"fx-1": (want_us, "online")}
    snap = M.current_snapshot(d)
    assert I.status_dimension_sink(d)(batch, 0) == got
    assert M.current_snapshot(d) == snap


def test_status_fold_null_arrival_ts_matches_merge(spark, tmp_path):
    """Status rows with a null ``arrival_ts`` fold as the MERGE folded
    them: a row without a ts never replaces a timed one, a timed row
    replaces an untimed one, and a device seen only without a ts gets a
    row with neither status nor ts."""
    d = str(tmp_path / "dim")
    fold = I.status_dimension_sink(d)
    t = lambda m: datetime(2024, 1, 1, 0, m)  # noqa: E731
    fold(_raw_df(spark, [
        ("mate/dc-1/status", b"online", None),
        ("mate/dc-1/status", b"offline", t(1)),
        ("mate/fx-1/status", b"online", None),
    ]), 0)
    assert _dim_rows(spark, d) == {"dc-1": ("offline", t(1)), "fx-1": (None, None)}
    fold(_raw_df(spark, [
        ("mate/dc-1/status", b"online", None),
        ("mate/fx-1/status", b"online", t(2)),
        ("mate/mx-1/status", b"online", None),
    ]), 1)
    assert _dim_rows(spark, d) == {
        "dc-1": ("offline", t(1)), "fx-1": ("online", t(2)), "mx-1": (None, None),
    }


def test_dimension_with_no_device_online_drops_every_point(spark, tmp_path):
    """Once the dimension exists, a device is let through only by an
    ``online`` row; with none online the gate's IN-list is empty and
    every point is dropped, in this batch and in a later one that
    carries no status at all."""
    out = str(tmp_path / "out")
    ts = datetime(2024, 1, 1)
    dc_pkt, _ = _packet("dc-1", 1704067200, 7.0)
    mx_pkt, _ = _packet("mx-1", 1704067200, 8.0)
    proc = I.IngestBatchProcessor(out)
    proc(_raw_df(spark, [
        ("mate/dc-1/status", b"offline", ts),
        ("mate/mx-1/status", b"maint", ts),
        ("mate/dc-1/dc-status", dc_pkt, ts),
        ("mate/mx-1/mx-status", mx_pkt, ts),
    ]), 0)
    proc(_raw_df(spark, [("mate/dc-1/dc-status", dc_pkt, ts)]), 1)
    assert _dim_status(spark, out) == {"dc-1": "offline", "mx-1": "maint"}
    assert os.path.exists(proc._commit_marker(1))
    written = [f for _, _, fs in os.walk(out + "/points") for f in fs if f.endswith(".parquet")]
    assert written == []


def test_ingest_batch_runs_three_jobs(spark, tmp_path):
    """A warm micro-batch whose statuses change the dimension runs three
    Spark jobs (collect the status rows, commit the dimension, write the
    points); one whose statuses change nothing runs two."""
    sc = spark.sparkContext
    proc = I.IngestBatchProcessor(str(tmp_path / "out"))
    t = lambda m: datetime(2024, 1, 1, 0, m)  # noqa: E731

    def batch(epoch, status_ts):
        pkt, _ = _packet("dc-1", 1704067200 + epoch, 1.0)
        path = str(tmp_path / f"in-{epoch}")
        _raw_df(spark, [
            ("mate/dc-1/status", b"online", status_ts),
            ("mate/mx-1/status", b"offline", status_ts),
            ("mate/dc-1/dc-status", pkt, status_ts),
        ]).coalesce(1).write.parquet(path)
        return spark.read.schema(I.RAW_SCHEMA).parquet(path)

    def jobs(df, epoch):
        group = f"ingest-epoch-{epoch}"
        sc.setJobGroup(group, group)
        try:
            proc(df, epoch)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    proc(batch(0, t(0)), 0)  # cold: bootstraps the dimension
    assert jobs(batch(1, t(1)), 1) == 3
    assert jobs(batch(2, t(1)), 2) == 2  # the same statuses again
    points = spark.read.parquet(str(tmp_path / "out" / "points"))
    assert points.count() == 3 * len(D.DC_FIELDS)


def test_points_crash_before_marker_replays_exactly_once(spark, tmp_path, monkeypatch):
    """A crash after the points reached ``points/`` but before the
    epoch's ``_commits`` marker, or halfway through moving them there,
    must not make the replay append them twice."""
    out = str(tmp_path / "out")
    proc = I.IngestBatchProcessor(out)
    makedirs, replace = os.makedirs, os.replace
    armed = {"marker": 1, "move": 0}

    def crash_before_marker(path, *a, **kw):
        if path == proc.commits_path and armed["marker"]:
            armed["marker"] -= 1
            raise OSError("injected crash before the _commits marker")
        return makedirs(path, *a, **kw)

    def crash_mid_move(src, dst):
        if dst.startswith(out + "/points/") and armed["move"]:
            armed["move"] -= 1
            if armed["move"] == 0:
                raise OSError("injected crash while moving points")
        return replace(src, dst)

    monkeypatch.setattr(I.os, "makedirs", crash_before_marker)
    monkeypatch.setattr(I.os, "replace", crash_mid_move)
    ts = datetime(2024, 1, 1)
    dc_pkt, _ = _packet("dc-1", 1704067200, 7.0)
    fx_pkt, _ = _packet("fx-1", 1704067200, 8.0)
    mx_pkt, _ = _packet("mx-1", 1704153600, 9.0)
    epochs = [
        [
            ("mate/dc-1/status", b"online", ts),
            ("mate/fx-1/status", b"online", ts),
            ("mate/dc-1/dc-status", dc_pkt, ts),
            ("mate/fx-1/fx-status", fx_pkt, ts),
        ],
        [
            ("mate/mx-1/status", b"online", ts),
            ("mate/mx-1/mx-status", mx_pkt, ts),
        ],
    ]
    keys = ["measurement", "ts", "field"]
    for epoch_id, rows in enumerate(epochs):
        batch = _raw_df(spark, rows)
        with pytest.raises(OSError, match="injected crash"):
            proc(batch, epoch_id)
        assert not os.path.exists(proc._commit_marker(epoch_id))
        proc(batch, epoch_id)  # the at-least-once replay
        assert os.path.exists(proc._commit_marker(epoch_id))
        points = spark.read.parquet(out + "/points")
        assert points.count() == points.dropDuplicates(keys).count()
        armed["move"] = 2  # the next epoch crashes on its second move

    per_device = {r.measurement: r["count"] for r in points.groupBy("measurement").count().collect()}
    assert per_device == {
        "dc-1": len(D.DC_FIELDS), "fx-1": len(D.FX_FIELDS), "mx-1": len(D.MX_FIELDS),
    }
    assert not os.listdir(out + "/_staging")
