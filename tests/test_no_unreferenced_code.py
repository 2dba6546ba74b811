"""No unreferenced package code.

A top-level function or class in ``solar_logger_spark/`` must be named
somewhere in the repo's non-test Python files besides its own ``def``
line: a caller, a registry row, a tool, the benchmark or the driver
entry. Code that only tests reach is dead weight the tests keep alive.
The rule is a plain word match over source text (no Spark, no import),
so a name mentioned anywhere, even in a docstring, counts as referenced.

``KEEP`` lists the deliberate exceptions, each with its reason. An entry
that is referenced again, or no longer defined, must leave the list.
"""

from __future__ import annotations

import ast
import collections
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "solar_logger_spark"

KEEP = {
    "streaming.stateful.stream_stream_gated":
        "documented in README/MIGRATION as the stream-stream gate",
    "streaming.stateful.stateful_gated_stream":
        "documented in README/MIGRATION as the stateful status gate",
    "streaming.ingest.gated_batch":
        "the sink's differential oracle, documented in README/MIGRATION",
    "operators.profile.attach_quality_counters":
        "the inline quality gate documented in README",
    "config.mqtt_settings":
        "the reference's MQTT env contract; the MQTT ingest source needs it",
    "config.influx_settings":
        "the reference's Influx env contract",
    "streaming.mqtt_wire.encode_publish":
        "wire encoder the embedded test broker publishes with",
    "streaming.mqtt_wire.encode_pubrel":
        "wire encoder of the embedded test broker's QoS-2 release",
    "streaming.pymate.encode_fx":
        "inverse of fx_decoder; the codec round-trip tests need it",
    "streaming.pymate.encode_dc":
        "inverse of dc_decoder; the codec round-trip tests need it",
    "streaming.pymate.unregister":
        "undoes register(); decoder tests restore the registry with it",
    "streaming.ann_ingest.record_baseline_qerr":
        "writes the baseline that drift_summary divides by",
    "operators.similarity.ivf_inertia":
        "the spherical k-means objective a test pins",
    "streaming.ingest.dedup_stream":
        "DUP redelivery handling for the MQTT ingest source",
    "engine.wide_view":
        "the wide (one column per field) read of the point table",
    "io.retention.read_merged":
        "retention is an open crash-matrix protocol; its fate is undecided",
    "io.retention.apply_retention":
        "retention is an open crash-matrix protocol; its fate is undecided",
    "io.bucketing.co_located_join":
        "kept with the rest of the bucketing module until it is decided",
}


def _non_test_sources() -> list[Path]:
    out = []
    for path in ROOT.rglob("*.py"):
        parts = path.relative_to(ROOT).parts
        if parts[0] == "tests" or any(p.startswith(".") for p in parts):
            continue
        out.append(path)
    return out


def _unreferenced() -> dict[str, str]:
    """``{"module.name": "path:line"}`` for every top-level def or class
    whose name occurs exactly once (its definition) in non-test code."""
    words = collections.Counter(
        w for p in _non_test_sources() for w in re.findall(r"\w+", p.read_text())
    )
    found = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        module = ".".join(path.relative_to(PACKAGE).with_suffix("").parts)
        for node in ast.parse(path.read_text()).body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                continue
            if words[node.name] <= 1:
                found[f"{module}.{node.name}"] = (
                    f"{path.relative_to(ROOT)}:{node.lineno}"
                )
    return found


def test_every_package_def_has_a_non_test_reference():
    unreferenced = _unreferenced()
    dead = {k: v for k, v in unreferenced.items() if k not in KEEP}
    assert not dead, (
        "top-level defs named in no non-test file but their own "
        f"definition (delete them, or add them to KEEP with a reason): {dead}"
    )
    stale = sorted(set(KEEP) - set(unreferenced))
    assert not stale, (
        f"KEEP entries that are referenced now or no longer exist: {stale}"
    )
