"""Seeded input generators for the benchmark.

``write_tables`` writes the registry's ten parquet tables (the schemas
of TESTDATA.md: a TPC-H-like star schema, an ``events`` point
table spanning 2024-01-01 .. 2024-01-30, a ``documents`` corpus with
near-duplicates and an ``embeddings`` table of labelled unit vectors).
``raw_message_table`` builds one ingest input file in the ingest
pipeline's ``RAW_SCHEMA`` (topic, payload, arrival_ts).

Everything is derived from the seed, so one seed always yields the same
bytes. Packet layouts come from ``streaming.decode``; nothing here
starts Spark.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from solar_logger_spark.streaming.decode import MEASUREMENT_FIELDS, PADDING_AT_END

WORDS = (
    "a agg batch big column customer data fast filter group hash join "
    "key line merge order part query row scan slow small sort spark "
    "stream table the value vector window"
).split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
PART_ADJ = ("small", "large", "red", "blue", "hot", "old")
PART_NOUN = ("ring", "bolt", "widget", "gear", "gizmo", "plate")
PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

# Table sizes: the registry's sf0.01 row counts. At sf0.1 one cold pass
# over the query lists takes longer than a whole benchmark run may.
SIZES = {
    "events": 10_000,
    "users": 150,
    "documents": 500,
    "embeddings": 500,
    "lineitem": 60_000,
    "orders": 15_000,
    "part": 2_000,
    "supplier": 100,
    "customer": 1_500,
}

_EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return int((d - _EPOCH).total_seconds()) * 1_000_000


def _ts(values_us: np.ndarray) -> pa.Array:
    """Timestamps stored as parquet TIMESTAMP(NANOS), the precision the
    program's inputs use, so reads take ``io.tables.read_parquet``'s
    nanosecond conversion and its raw-int64 range pushdown."""
    return pa.array(values_us.astype("int64") * 1000, type=pa.timestamp("ns"))


def _days(rng, n, start: dt.datetime, end: dt.datetime) -> pa.Array:
    span = (end - start).days
    day = rng.integers(0, span + 1, n)
    return _ts(_us(start) + day.astype("int64") * 86_400_000_000)


def _cents(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _events(rng) -> pa.Table:
    n = SIZES["events"]
    t0, t1 = _us(dt.datetime(2024, 1, 1)), _us(dt.datetime(2024, 1, 31))
    ts = np.sort(rng.integers(t0, t1, n))
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype="int64")),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, SIZES["users"], n).astype("int64")),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _documents(rng) -> pa.Table:
    n = SIZES["documents"]
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document: one word replaced
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(np.array(WORDS)[rng.integers(0, len(WORDS), rng.integers(10, 100))])
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    })


def _embeddings(rng) -> pa.Table:
    n, dim, k = SIZES["embeddings"], 64, 10
    centres = rng.normal(0.0, 1.0, (k, dim))
    label = rng.integers(0, k, n)
    vec = centres[label] + rng.normal(0.0, 0.8, (n, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype="int64")),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype("int32")),
    })


def _tpch(rng) -> dict[str, pa.Table]:
    s = SIZES
    nl, no, npart, ns, nc = (
        s["lineitem"], s["orders"], s["part"], s["supplier"], s["customer"],
    )
    pick = lambda options, n: pa.array(np.array(options)[rng.integers(0, len(options), n)])  # noqa: E731
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype="int32")),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype="int32")),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype("int32")),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(nc, dtype="int64")),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(rng.integers(0, 25, nc).astype("int32")),
            "c_acctbal": pa.array(_cents(rng, nc, -999.99, 9999.99)),
            "c_mktsegment": pick(SEGMENTS, nc),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(ns, dtype="int64")),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": pa.array(rng.integers(0, 25, ns).astype("int32")),
            "s_acctbal": pa.array(_cents(rng, ns, -999.99, 9999.99)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(npart, dtype="int64")),
            "p_name": pa.array([
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 6, npart), rng.integers(0, 6, npart))
            ]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
            "p_type": pick(PART_TYPES, npart),
            "p_size": pa.array(rng.integers(1, 51, npart).astype("int32")),
            "p_retailprice": pa.array(900.0 + (np.arange(npart) % 1000) / 10.0),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(no, dtype="int64")),
            "o_custkey": pa.array(rng.integers(0, nc, no).astype("int64")),
            "o_orderstatus": pick(("F", "O", "P"), no),
            "o_totalprice": pa.array(_cents(rng, no, 1000.0, 500000.0)),
            "o_orderdate": _days(rng, no, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)),
            "o_orderpriority": pick(PRIORITIES, no),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, no, nl).astype("int64")),
            "l_partkey": pa.array(rng.integers(0, npart, nl).astype("int64")),
            "l_suppkey": pa.array(rng.integers(0, ns, nl).astype("int64")),
            "l_linenumber": pa.array(rng.integers(1, 8, nl).astype("int32")),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype("float64")),
            "l_extendedprice": pa.array(_cents(rng, nl, 900.0, 105000.0)),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
            "l_returnflag": pick(("A", "N", "R"), nl),
            "l_linestatus": pick(("O", "F"), nl),
            "l_shipdate": _days(rng, nl, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4)),
        }),
    }


def write_tables(out_dir: str, seed: int) -> None:
    """Write ``{out_dir}/{table}.parquet`` for every registry table."""
    rng = np.random.default_rng([seed, 1])
    tables = {
        "events": _events(rng),
        "documents": _documents(rng),
        "embeddings": _embeddings(rng),
        **_tpch(rng),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# --------------------------------------------------------------------------
# ingest input
# --------------------------------------------------------------------------

# Latest status each device reports. mx-1 is offline, so the ingest
# status gate must drop all of its packets.
DEVICES = {"dc-1": "online", "fx-1": "online", "mx-1": "offline"}
EPOCH0 = 1_704_067_200  # 2024-01-01T00:00:00Z


def _packets(device: str, epochs: np.ndarray, base: np.ndarray) -> list[bytes]:
    """Wire packets in streaming.decode's default codec: 4-byte
    little-endian epoch, channel i = base + i as packed little-endian
    float64, zero padding."""
    n_ch, pad = len(MEASUREMENT_FIELDS[device]), PADDING_AT_END[device]
    layout = [("epoch", "<i4"), ("vals", "<f8", (n_ch,))]
    if pad:
        layout.append(("pad", f"V{pad}"))
    rec = np.zeros(len(epochs), dtype=np.dtype(layout))
    rec["epoch"] = epochs
    rec["vals"] = base[:, None] + np.arange(n_ch)[None, :]
    buf, width = rec.tobytes(), rec.dtype.itemsize
    return [buf[i * width:(i + 1) * width] for i in range(len(epochs))]


def raw_message_table(seed: int, file_no: int, packets: int, arrival_s: float) -> tuple[pa.Table, dict]:
    """One ingest input file: a status message per device followed by
    ``packets`` data packets spread over the three devices.

    Packet epochs are ``EPOCH0 + file_no * packets + j``, so (device, ts)
    is unique across every file of a run. Returns the table and the
    points the sink must hold for it: ``{"points": n, "value_sum": s}``
    over online devices only."""
    rng = np.random.default_rng([seed, 2, file_no])
    device_of = np.array(list(DEVICES))[rng.integers(0, len(DEVICES), packets)]
    epochs = EPOCH0 + file_no * packets + np.arange(packets)
    base = np.round(rng.uniform(0.0, 300.0, packets), 1)
    arrival = int(arrival_s * 1_000_000)
    topics, payloads = [], []
    for device, status in DEVICES.items():
        topics.append(f"mate/{device}/status")
        payloads.append(status.encode())
    expected = {"points": 0, "value_sum": 0.0}
    order = np.argsort(device_of, kind="stable")
    for device, status in DEVICES.items():
        idx = order[device_of[order] == device]
        topics += [f"mate/{device}/{device[:2]}-status"] * len(idx)
        payloads += _packets(device, epochs[idx], base[idx])
        if status == "online":
            n_ch = len(MEASUREMENT_FIELDS[device])
            expected["points"] += len(idx) * n_ch
            expected["value_sum"] += float(base[idx].sum()) * n_ch + len(idx) * n_ch * (n_ch - 1) / 2
    n = len(topics)
    table = pa.table({
        "topic": pa.array(topics),
        "payload": pa.array(payloads, type=pa.binary()),
        "arrival_ts": pa.array(
            np.full(n, arrival, dtype="int64"), type=pa.timestamp("us", tz="UTC")
        ),
    })
    return table, expected


def file_name(file_no: int) -> str:
    return f"part-{file_no:05d}.parquet"


def drop_file(table: pa.Table, in_dir: str, name: str) -> None:
    """Write ``table`` beside ``in_dir`` and rename it in atomically, so
    the file source never lists a half-written file."""
    tmp = os.path.join(os.path.dirname(in_dir.rstrip("/")), f".{name}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(in_dir, name))
