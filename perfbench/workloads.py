"""The benchmark workloads: ``flux_interactive`` and ``ingest``.

Each workload function takes a :class:`Run` (session, tracer, seed,
seconds, work directory) and returns a :class:`Result`: the latencies
of the timed window, the work it completed, the set-up time, the
correctness verdict and the per-layer readings of a traced run.
"""

from __future__ import annotations

import dataclasses
import datetime
import json
import os
import subprocess
import sys
import time

import numpy as np

import datagen
from spans import Tracer, stage_totals

# flux_interactive runs a small subset of the registry. Every run starts
# a fresh JVM, which pays a cold first run per distinct query (0.5-6 s
# each on 4 cores); a few queries repeated over many passes give steady
# figures within the time one run may take. The list covers the builder
# API with a large result, an aggregate window, Flux text through the
# parser (the largest result, flux_text_group_keys, and a pivot), and a
# multi-table script.
FLUX = (
    "flux_range_filter", "flux_agg_mean", "flux_text_pipeline",
    "flux_text_group_keys", "flux_text_pivot", "flux_script_join",
)
# Nominal seconds per warm pass: a run makes round(seconds / PASS_S)
# timed passes, so every run does the same work.
PASS_S = 2.0

# ingest, steady phase: files per second and packets per file, well below
# the rate at which maxFilesPerTrigger=8 per micro-batch saturates. It
# lasts half the window.
STEADY_RATE = 1.0
STEADY_PACKETS = 1_000
WARM_BATCHES = 1
# ingest, trials: steady-sized files landed one at a time on an idle
# stream, TRIALS_PER_S per second of the window (a trial takes ~2.4 s).
TRIALS_PER_S = 0.4
TRIAL_GAP_S = 0.2  # after a commit, for the micro-batch to wind down
# ingest, catch-up phase: BURSTS backlogs of large files, each one full
# micro-batch of maxFilesPerTrigger=8, dropped at once after the previous
# one is committed.
BURSTS = 4
BURST_FILES = 8
BURST_PACKETS = 3_000


@dataclasses.dataclass
class Run:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    work: str
    setup_t0: float  # perf_counter at the start of set-up
    latency_bound: float  # latency_ms's bound in BENCHMARK.json


@dataclasses.dataclass
class Result:
    latency_ms: float
    samples: int  # latency samples the run took
    throughput_per_s: float
    window_s: float
    setup_s: float
    attempted: int
    failed: int
    problems: list
    ops: int = 0  # queries run, or micro-batches, in the timed window
    layers: dict = dataclasses.field(default_factory=dict)
    extra: dict = dataclasses.field(default_factory=dict)


def _pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q))


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(v) for v in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already counted in user and nice.
    return fields[7], sum(fields[:8])


def steal_share(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor took from this VM between two
    :func:`cpu_times` readings."""
    return (t1[0] - t0[0]) / max(t1[1] - t0[1], 1)


# --------------------------------------------------------------------------
# flux_interactive (closed loop, one client)
# --------------------------------------------------------------------------

def _oracle_problems(sf_dir: str, verified: dict) -> list[str]:
    """Compare each query's first result with its DuckDB oracle twin."""
    import duckdb
    import __spark_entry__ as entry
    from solar_logger_spark.io.tables import TABLES
    from tools.verify_local import _compare

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracles = entry.oracle_sql()
    problems = []
    for name, pdf in verified.items():
        diff = _compare(pdf, con.execute(oracles[name]).df())
        problems += [f"{name}: {d}" for d in diff]
    con.close()
    return problems


def flux_interactive(run: Run) -> Result:
    """A closed loop with one client: passes over ``FLUX`` in an order
    shuffled by the seed, each query built and its records returned
    through ``io.results.execute(df, "flux")``."""
    import pandas as pd

    import __spark_entry__ as entry
    from solar_logger_spark.io import results
    from solar_logger_spark.io.tables import load_table
    from solar_logger_spark.query import flux_parser

    spark, tr = run.spark, run.tracer
    sc = spark.sparkContext
    sf_dir = os.path.join(run.work, "tables")
    datagen.write_tables(sf_dir, run.seed)
    registry = entry.queries()

    def execute(name: str, op: int) -> int:
        """Build and run one query; returns the rows it produced. When
        tracing, its jobs run in job groups ``b<op>`` (build) and
        ``e<op>`` (execution)."""
        if tr.enabled:
            with tr.quiet():
                sc.setJobGroup(f"b{op}", name)
        with tr.span("query.build", op=name):
            df = registry[name](spark, sf_dir)
        if tr.enabled:
            with tr.quiet():
                sc.setJobGroup(f"e{op}", name)
            with tr.span("spark.plan", op=name):
                df._jdf.queryExecution().executedPlan()
        return len(results.execute(df, "flux"))

    # An untimed pass warms the JVM, codegen and the Python workers, and
    # keeps each result for the oracle check.
    names, verified, rows, problems = list(FLUX), {}, {}, []
    for name in names:
        try:
            df = registry[name](spark, sf_dir)
            pdf = pd.DataFrame(results.execute(df, "flux"), columns=df.columns)
        except Exception as exc:  # reported, and left out of the timed passes
            problems.append(f"{name}: raised {exc!r:.300}")
            continue
        verified[name], rows[name] = pdf, len(pdf)
    live = [n for n in names if n in rows]
    setup_s = time.perf_counter() - run.setup_t0

    tr.hook_method(type(spark.range(0)), "collect", "io.collect")
    tr.hook(load_table, "io.load_table")
    tr.hook(flux_parser.parse_flux, "query.parse")
    tr.hook(flux_parser.parse_flux_script, "query.parse")
    tr.hook_py4j()

    # Each query's latency is its best over the run's passes (min of
    # reps), and throughput is one query of each kind per the sum of
    # their best times. A fresh JVM is still compiling hot paths through
    # the window, and on a shared host bursts of CPU steal hit single
    # ops; the best rep of each query is what stays put from run to run.
    rng = np.random.default_rng([run.seed, 3])
    samples: dict[str, list[float]] = {n: [] for n in live}
    n_ops = 0
    cpu0 = cpu_times()
    t_start = time.perf_counter()
    for _ in range(max(1, round(run.seconds / PASS_S))):
        for name in [live[i] for i in rng.permutation(len(live))]:
            n_ops += 1
            t0 = time.perf_counter()
            try:
                with tr.span("op", op=name):
                    n = execute(name, n_ops)
            except Exception as exc:
                problems.append(f"{name}: raised {exc!r:.300}")
                continue
            samples[name].append((time.perf_counter() - t0) * 1e3)
            if n != rows[name]:
                problems.append(f"{name}: {n} rows in a timed pass, {rows[name]} verified")
    window_s = time.perf_counter() - t_start
    steal = steal_share(cpu0, cpu_times())
    tr.unhook()

    problems = _oracle_problems(sf_dir, verified) + problems
    best = [min(v) for v in samples.values() if v]
    res = Result(
        extra={"steal_share": steal, "query_ms": samples, "flux_p90_ms": _pct(best, 90),
               "queries_per_s_over_window": n_ops / window_s},
        latency_ms=_pct(best, 50), samples=n_ops, throughput_per_s=len(best) / (sum(best) / 1e3),
        window_s=window_s,
        setup_s=setup_s, attempted=n_ops + len(names), ops=n_ops,
        failed=len({p.split(":", 1)[0] for p in problems}), problems=problems,
    )
    if tr.enabled:
        with tr.quiet():
            build_jobs = [list(sc.statusTracker().getJobIdsForGroup(f"b{i}")) for i in range(1, n_ops + 1)]
            exec_jobs = [list(sc.statusTracker().getJobIdsForGroup(f"e{i}")) for i in range(1, n_ops + 1)]
            tot = stage_totals(sc, [j for js in build_jobs + exec_jobs for j in js])
        res.layers = {
            "session.py4j_calls": tr.counters["session.py4j_calls"] / n_ops,
            "session.py4j_ms": tr.counters["session.py4j_ms"] / n_ops,
            "query.build_ms": tr.span_ms("query.build") / n_ops,
            "query.parse_ms": tr.span_ms("query.parse") / n_ops,
            "io.load_table_ms": tr.span_ms("io.load_table") / n_ops,
            "io.collect_ms": tr.span_ms("io.collect") / n_ops,
            "spark.plan_ms": tr.span_ms("spark.plan") / n_ops,
            "spark.build_jobs": sum(map(len, build_jobs)) / n_ops,
            **{k: v / n_ops for k, v in tot.items()},
        }
    return res


# --------------------------------------------------------------------------
# ingest workload
# --------------------------------------------------------------------------

class _Sink:
    """One ingest query's directories and what its checkpoint says."""

    def __init__(self, root: str) -> None:
        self.out = os.path.join(root, "out")
        self.ckpt = os.path.join(root, "ckpt")
        self._batches: dict[int, tuple[float, list[str]]] = {}

    def batches(self) -> dict[int, tuple[float, list[str]]]:
        """batch id → (commit wall time, input file names) for every
        committed micro-batch. Each log file is read once. Every tenth
        entry of the file-source log is a ``.compact`` file holding all
        entries up to it."""
        commits = os.path.join(self.ckpt, "commits")
        for name in os.listdir(commits) if os.path.isdir(commits) else ():
            if not name.isdigit() or int(name) in self._batches:
                continue
            bid = int(name)
            src = os.path.join(self.ckpt, "sources", "0", name)
            if not os.path.exists(src):
                src += ".compact"
            with open(src) as fh:
                entries = [json.loads(line) for line in fh.read().splitlines()[1:] if line.strip()]
            files = [os.path.basename(e["path"]) for e in entries if e["batchId"] == bid]
            mtime = os.stat(os.path.join(commits, name)).st_mtime
            self._batches[bid] = (mtime, files)
        return self._batches

    def committed(self) -> dict[str, float]:
        """input file name → commit wall time of its batch."""
        return {f: t for t, files in self.batches().values() for f in files}


def _stage(in_dir: str, seed: int, first: int, count: int, packets: int) -> dict:
    """Write input files ``first .. first+count-1``; returns each one's
    expected points."""
    expected = {}
    for file_no in range(first, first + count):
        table, exp = datagen.raw_message_table(seed, file_no, packets, time.time())
        datagen.drop_file(table, in_dir, datagen.file_name(file_no))
        expected[file_no] = exp
    return expected


def _check_sink(sink: _Sink, expected: dict, packets: int, first: int, end: int) -> list[str]:
    """Points per input file ``first .. end-1``, found by the file's
    packet-epoch range: count, value sum, no duplicate (measurement, ts,
    field), none from the offline device."""
    import duckdb

    got = duckdb.sql(f"""
        SELECT (epoch(ts)::BIGINT - {datagen.EPOCH0}) // {packets} AS file_no,
               count(*) AS n,
               count(DISTINCT (measurement, ts, field)) AS n_distinct,
               sum(value) AS s,
               count(*) FILTER (WHERE measurement = 'mx-1') AS offline
        FROM read_parquet('{sink.out}/points/**/*.parquet', hive_partitioning = 1)
        WHERE epoch(ts) >= {datagen.EPOCH0 + first * packets}
          AND epoch(ts) < {datagen.EPOCH0 + end * packets}
        GROUP BY 1
    """).fetchall()
    by_file = {int(r[0]): r[1:] for r in got}
    problems = []
    for file_no, exp in expected.items():
        n, n_distinct, s, offline = by_file.pop(file_no, (0, 0, 0.0, 0))
        if (n, n_distinct, offline) != (exp["points"], exp["points"], 0) or not np.isclose(
            s, exp["value_sum"], rtol=1e-9
        ):
            problems.append(
                f"file {file_no}: {n} points ({n_distinct} distinct, {offline} offline), "
                f"expected {exp['points']}"
            )
    problems += [f"points from unknown file {f}" for f in by_file]
    return problems


def _stream_jobs(sc, query) -> set:
    """Every job of a streaming query: the stream runs its micro-batches,
    ``foreachBatch`` body included, under a job group named by its run id."""
    return set(sc.statusTracker().getJobIdsForGroup(str(query.runId)))


# Micro-batch phases, in the order they run, and the span each becomes.
_PHASES = (
    ("latestOffset", "streaming.latest_offset"),
    ("getBatch", "streaming.get_batch"),
    ("queryPlanning", "spark.plan"),
    ("addBatch", "streaming.add_batch"),
    ("walCommit", "streaming.wal_commit"),
    ("commitOffsets", "streaming.commit_offsets"),
)


def _batch_layers(run: Run, query, after_batch: int, skip_jobs: set) -> dict:
    """Per-micro-batch readings from ``recentProgress`` and the status
    store, over batches numbered above ``after_batch`` and jobs not in
    ``skip_jobs``."""
    sc, tr = run.spark.sparkContext, run.tracer
    with tr.quiet():
        progress = [p for p in query.recentProgress if p.batchId > after_batch and p.numInputRows > 0]
        tot = stage_totals(sc, sorted(_stream_jobs(sc, query) - skip_jobs))
    n = max(len(progress), 1)

    def phase(key):
        return sum(p.durationMs.get(key, 0) for p in progress) / n

    for p in progress:  # one span per batch, its phases laid out in order
        t = datetime.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        batch = tr.record("streaming.batch", t, t + p.durationMs["triggerExecution"] / 1e3, op=p.batchId)
        for key, name in _PHASES:
            d = p.durationMs.get(key, 0) / 1e3
            tr.record(name, t, t + d, parent=batch, op=p.batchId)
            t += d
    return {
        "streaming.batches": len(progress),
        "streaming.batch_ms": phase("triggerExecution"),
        "streaming.add_batch_ms": phase("addBatch"),
        "streaming.latest_offset_ms": phase("latestOffset"),
        "streaming.wal_commit_ms": phase("walCommit"),
        "spark.plan_ms": phase("queryPlanning"),
        "streaming.rows_per_batch": sum(p.numInputRows for p in progress) / n,
        "streaming.jobs_per_batch": tot["spark.jobs"] / n,
        **{k: v / n for k, v in tot.items()},
    }


def _deferred(sink: _Sink, progress: list, steady: list[dict]) -> list[int]:
    """Steady files that a later micro-batch committed than the first
    one to start after the file landed. At a rate the stream sustains
    there are none: every batch takes all the files that landed before
    it started. A backlog defers files. A slower host only lengthens
    batches, which raises latency but defers nothing, so this tells a
    backlog apart from host contention where comparing latencies
    cannot."""
    starts = sorted(
        (datetime.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp(), p.batchId)
        for p in progress
    )
    batch_of = {f: bid for bid, (_, files) in sink.batches().items() for f in files}
    out = []
    for r in steady:
        first = next((bid for t, bid in starts if t > r["landed"]), None)
        if first is not None and batch_of[r["name"]] > first:
            out.append(r["file"])
    return out


def _hook_ingest(run: Run) -> None:
    from pyspark.sql import DataFrameWriter

    from solar_logger_spark.streaming import ingest

    tr = run.tracer
    tr.hook_method(type(run.spark.range(0)), "collect", "io.collect")
    tr.hook_method(DataFrameWriter, "parquet", "spark.exec")
    for fn in (ingest.status_updates, ingest.data_points, ingest.latest_per_key, ingest.status_gate):
        tr.hook(fn, "query.build")
    tr.hook_py4j()


def _wait_committed(sink: _Sink, names: list[str], timeout: float) -> dict[str, float]:
    """Poll until every file in ``names`` is committed or ``timeout``
    passes. Commit times come from the checkpoint, not from the poll, so
    polling slowly costs no accuracy and keeps this thread off the GIL
    the ``foreachBatch`` callback needs."""
    deadline = time.time() + timeout
    while True:
        committed = sink.committed()
        if all(n in committed for n in names) or time.time() > deadline:
            return committed
        time.sleep(0.25)


def ingest(run: Run) -> Result:
    """One continuously triggered ingest query, fed in three phases.

    Steady: a separate generator process drops ``STEADY_RATE`` files a
    second for half of ``seconds`` (open loop); each file's latency runs
    from when it was due to the commit of the micro-batch that held it.
    It is kept in the record, and it shows whether the rate grows a
    backlog.
    Catch-up: ``BURSTS`` times in turn, a backlog of ``BURST_FILES``
    large files lands at once, as after an outage. A burst's throughput
    is its points over the time from the drop to its last commit.
    Trials: one file at a time lands on an idle stream; its latency runs
    from the landing to its micro-batch's commit, which is the fixed
    cost of a micro-batch.

    The run reports the best trial and the best burst. A micro-batch is
    a long chain of hand-offs between threads and processes, so on a
    shared host CPU steal can double single trials and bursts, and
    whole stretches of the steady phase with them; a directory listing
    can also split a burst over two micro-batches."""
    from solar_logger_spark.streaming.ingest import ingest_query

    root = os.path.join(run.work, "ingest")
    in_dir, staging, sink = os.path.join(root, "in"), os.path.join(root, "staging"), _Sink(root)
    os.makedirs(in_dir)
    os.makedirs(staging)
    # Warm-up: WARM_BATCHES micro-batches of one file each, so the steady
    # phase does not start on a cold stream (the first batch takes ~3x as
    # long as the next).
    query = ingest_query(run.spark, in_dir, sink.out, sink.ckpt, available_now=False)
    expected = {}
    for file_no in range(WARM_BATCHES):
        expected.update(_stage(in_dir, run.seed, file_no, 1, STEADY_PACKETS))
        _wait_committed(sink, [datagen.file_name(file_no)], timeout=120)
    warm_batch = max(sink.batches())
    setup_s = time.perf_counter() - run.setup_t0

    warm_jobs = _stream_jobs(run.spark.sparkContext, query)
    _hook_ingest(run)
    cpu0 = cpu_times()
    count = int(round(run.seconds / 2 * STEADY_RATE))
    start = time.time() + 1.5  # the feeder's imports finish before its first file is due
    feeder = subprocess.run(
        [sys.executable, os.path.join(os.path.dirname(__file__), "feeder.py"),
         "--in-dir", in_dir, "--seed", str(run.seed), "--first", str(WARM_BATCHES),
         "--count", str(count), "--rate", str(STEADY_RATE),
         "--packets", str(STEADY_PACKETS), "--start", repr(start)],
        capture_output=True, text=True, timeout=run.seconds + 60, check=True,
    )
    log = [json.loads(line) for line in feeder.stdout.splitlines()]
    committed = _wait_committed(sink, [r["name"] for r in log], timeout=60)
    steady = [r for r in log if r["name"] in committed]
    lat = [(committed[r["name"]] - r["due"]) * 1e3 for r in steady]

    backlog = list(range(WARM_BATCHES + count, WARM_BATCHES + count + BURSTS * BURST_FILES))
    backlog_expected = _stage(staging, run.seed, backlog[0], len(backlog), BURST_PACKETS)
    catch_up_s, burst_points_per_s = [], []
    for b in range(BURSTS):
        files = backlog[b * BURST_FILES:(b + 1) * BURST_FILES]
        burst = [datagen.file_name(f) for f in files]
        t_drop = time.time()
        for name in burst:
            os.replace(os.path.join(staging, name), os.path.join(in_dir, name))
        committed = _wait_committed(sink, burst, timeout=120)
        catch_up_s.append(max(committed.get(name, time.time()) for name in burst) - t_drop)
        points = sum(backlog_expected[f]["points"] for f in files)
        burst_points_per_s.append(points / catch_up_s[-1])
    # Trials come last, when the JVM is warmest: a trial's time still
    # falls over the first few of them. Their file numbers start past the
    # bursts' packet epochs.
    first = (backlog[-1] + 1) * BURST_PACKETS // STEADY_PACKETS
    trials = list(range(first, first + max(1, round(run.seconds * TRIALS_PER_S))))
    trial_expected = _stage(staging, run.seed, trials[0], len(trials), STEADY_PACKETS)
    trial_ms = []
    for file_no in trials:
        name = datagen.file_name(file_no)
        time.sleep(TRIAL_GAP_S)
        t_land = time.time()
        os.replace(os.path.join(staging, name), os.path.join(in_dir, name))
        committed = _wait_committed(sink, [name], timeout=60)
        if name in committed:
            trial_ms.append((committed[name] - t_land) * 1e3)
    cpu1 = cpu_times()
    with run.tracer.quiet():
        progress = [p for p in query.recentProgress if p.batchId > warm_batch and p.numInputRows > 0]
    batch_ms = {p.batchId: p.durationMs["triggerExecution"] for p in progress}
    deferred = _deferred(sink, progress, steady)
    layers = _batch_layers(run, query, warm_batch, warm_jobs)
    query.stop()
    run.tracer.unhook()

    for rec in log:
        _, expected[rec["file"]] = datagen.raw_message_table(run.seed, rec["file"], STEADY_PACKETS, 0.0)
    problems = [f"file {r['file']}: not committed" for r in log if r["name"] not in committed]
    problems += [f"file {f}: not committed" for f in trials + backlog if datagen.file_name(f) not in committed]
    problems += _check_sink(sink, expected, STEADY_PACKETS, 0, WARM_BATCHES + count)
    problems += _check_sink(sink, trial_expected, STEADY_PACKETS, trials[0], trials[-1] + 1)
    problems += _check_sink(sink, backlog_expected, BURST_PACKETS, backlog[0], backlog[-1] + 1)
    if len(deferred) > run.latency_bound * len(steady):
        problems.append(
            f"steady: backlog, {len(deferred)} of {len(steady)} files waited past "
            f"the first micro-batch that started after they landed"
        )
    quarter = max(len(lat) // 4, 1)
    late = [(r["landed"] - r["due"]) * 1e3 for r in log]
    res = Result(
        latency_ms=min(trial_ms, default=0.0), samples=len(trial_ms),
        throughput_per_s=max(burst_points_per_s), window_s=sum(catch_up_s),
        setup_s=setup_s, attempted=len(log) + len(trials) + len(backlog), ops=layers["streaming.batches"],
        failed=len({p.split(":")[0] for p in problems}), problems=problems,
        extra={
            "ingest_p50_ms": _pct(lat, 50),
            "ingest_p90_ms": _pct(lat, 90),
            "trial_ms": trial_ms,
            "steady_first_quarter_p50_ms": _pct(lat[:quarter], 50),
            "steady_last_quarter_p50_ms": _pct(lat[-quarter:], 50),
            "steady_deferred_files": deferred,
            "steal_share": steal_share(cpu0, cpu1),
            "batch_ms": batch_ms,
            "gen_late_p90_ms": _pct(late, 90),
            "catch_up_s": catch_up_s,
            "burst_points_per_s": burst_points_per_s,
            "steady_latencies_ms": lat,
        },
    )
    if run.tracer.enabled:
        n = max(layers["streaming.batches"], 1)
        res.layers = {
            "session.py4j_calls": run.tracer.counters["session.py4j_calls"] / n,
            "session.py4j_ms": run.tracer.counters["session.py4j_ms"] / n,
            "query.build_ms": run.tracer.span_ms("query.build") / n,
            "io.collect_ms": run.tracer.span_ms("io.collect") / n,
            "spark.build_jobs": 0,
            "streaming.points_per_s": max(burst_points_per_s),
            "gen.late_ms": _pct(late, 90),
            **layers,
        }
    return res


WORKLOADS = {"flux_interactive": flux_interactive, "ingest": ingest}
