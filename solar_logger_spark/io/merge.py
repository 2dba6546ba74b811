"""Copy-on-write upsert (MERGE) for parquet tables.

Plain parquet has no row-level mutation; the standard pattern (what
Delta/Iceberg do under the hood, minus the transaction log) is
copy-on-write: read the base snapshot, anti-join the keys being
replaced, union the updates, write a NEW snapshot directory, and swap a
pointer. This gives the engine slowly-changing-table maintenance — the
piece a long-running logger needs for device registries, corrections,
and late re-sends — without any table-format dependency.

Layout::

    table_dir/
      _CURRENT            <- text file holding the live snapshot name
      snap-000000/*.parquet
      snap-000001/*.parquet

Readers resolve ``_CURRENT`` then read one immutable snapshot dir, so a
concurrent upsert never mutates files under them; the pointer write is
a tiny atomic rename. Old snapshots are pruned after the swap (keep the
last ``keep_snapshots``).

Scale shape: one anti-join on the merge key (shuffle-or-broadcast as
sizes dictate — updates are usually tiny and broadcast) + one full
rewrite of the base. Cost is O(table) per merge like every
copy-on-write store — unless the layout is keyed: partition-scoped
merges (``upsert(..., partition_by=[...], partition_scoped=True)``)
rewrite only the partitions that can contain the keys and hardlink
the rest.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence

from pyspark.sql import (
    Column, DataFrame, SparkSession, Window, functions as F,
)

_CURRENT = "_CURRENT"


def _snap_name(i: int) -> str:
    return f"snap-{i:06d}"


def current_snapshot(table_dir: str) -> str | None:
    ptr = os.path.join(table_dir, _CURRENT)
    if not os.path.exists(ptr):
        return None
    with open(ptr) as fh:
        return fh.read().strip() or None


def read_table_snapshot(
    spark: SparkSession, table_dir: str, at: str | None = None
) -> DataFrame:
    """Read the live snapshot, or time-travel to a retained older one
    by name (``at="snap-000003"``)."""
    snap = at or current_snapshot(table_dir)
    if snap is None:
        raise FileNotFoundError(f"no _CURRENT snapshot in {table_dir}")
    path = os.path.join(table_dir, snap)
    if at is not None and not os.path.isdir(path):
        raise FileNotFoundError(
            f"snapshot {at} not retained in {table_dir} "
            f"(raise keep_snapshots to travel further back)"
        )
    return spark.read.parquet(path)


def read_sidecar(
    table_dir: str, fname: str, at: str | None = None
) -> str | None:
    """Read a sidecar file committed with a snapshot (``None`` when the
    snapshot or file does not exist). Sidecars are how table metadata
    commits ATOMICALLY with data: they are written into the snapshot
    directory BEFORE the pointer swap, so a reader resolving
    ``_CURRENT`` sees data and metadata from the same commit — the
    poor man's transaction-log entry (what streaming.rollup_ingest
    uses to make additive merges replay-exact)."""
    snap = at or current_snapshot(table_dir)
    if snap is None:
        return None
    path = os.path.join(table_dir, snap, fname)
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return fh.read()


def _validate_sidecar_names(sidecar: dict[str, str] | None) -> None:
    """Called BEFORE the snapshot data write: an invalid name must fail
    cheaply, not after an O(table) parquet write."""
    for fname in sidecar or {}:
        if not fname.startswith("_"):
            # Spark/parquet readers skip underscore-prefixed files; any
            # other name would be read as table data
            raise ValueError(f"sidecar names must start with '_': {fname!r}")


def _write_sidecars(snap_path: str, sidecar: dict[str, str] | None) -> None:
    _validate_sidecar_names(sidecar)
    for fname, content in (sidecar or {}).items():
        with open(os.path.join(snap_path, fname), "w") as fh:
            fh.write(content)


def init_table(
    df: DataFrame,
    table_dir: str,
    partition_by: Sequence[str] | None = None,
    sidecar: dict[str, str] | None = None,
) -> str:
    """Create snapshot 0 from ``df``; returns the snapshot name.

    ``partition_by``: hive-layout partition columns for the snapshot
    files; readers filtering on them prune file reads (the point of
    the partitioned artifact layout — see streaming.dedup_ingest).

    Crash-idempotent: a previous attempt that died between writing
    ``snap-000000`` and the pointer swap leaves an orphan dir that was
    never referenced; it is removed and rewritten (same rule as
    :func:`_write_next_snapshot`'s orphan cleanup), so a replayed
    bootstrap completes instead of colliding on ``errorifexists``."""
    os.makedirs(table_dir, exist_ok=True)
    _validate_sidecar_names(sidecar)
    if current_snapshot(table_dir) is not None:
        raise FileExistsError(
            f"{table_dir} already initialized; use upsert/replace_table"
        )
    name = _snap_name(0)
    path = os.path.join(table_dir, name)
    if os.path.isdir(path):
        shutil.rmtree(path)  # dead orphan from a crashed bootstrap
    w = df.write.mode("errorifexists")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
    _guard_empty_partitioned(df, path, partition_by)
    _write_sidecars(path, sidecar)
    _swap_pointer(table_dir, name)
    return name


def _guard_empty_partitioned(
    df: DataFrame, snap_path: str, partition_by: Sequence[str] | None
) -> None:
    """A PARTITIONED write of an empty frame emits no schema-bearing
    parquet file, committing a snapshot ``read_table_snapshot`` cannot
    read ('Unable to infer schema') — e.g. a bootstrap from a
    self-loop-only edge set, or a delete that empties the table. When
    no parquet file landed, append the empty frame UNPARTITIONED:
    partition columns are ordinary columns of ``df``, so readers see
    the identical schema, and no hive dirs exist to conflict with.
    (The same guard _scoped_commit has always had.)"""
    if not partition_by:
        return  # unpartitioned writes always emit a schema-bearing file
    has_parquet = any(
        f.endswith(".parquet")
        for _, _, files in os.walk(snap_path) for f in files
    )
    if not has_parquet:
        df.limit(0).write.mode("append").parquet(snap_path)


def _carry_delta_floor(
    table_dir: str, sidecar: dict[str, str] | None
) -> dict[str, str] | None:
    """Every snapshot commit carries the live ``_delta_floor`` forward
    unless the caller sets one explicitly: a mutation that silently
    dropped the floor would make already-folded (but not yet deleted)
    delta dirs visible again — double-counted rows after a crashed
    compaction cleanup."""
    out = dict(sidecar or {})
    for name in (DELTA_FLOOR_SIDECAR, DELTA_FLOOR_PREV_SIDECAR):
        if name in out:
            continue
        cur = read_sidecar(table_dir, name)
        if cur is not None:
            out[name] = cur
    return out or None


def _reject_visible_deltas(table_dir: str, op: str) -> None:
    """Snapshot-only mutations would silently ignore delta rows —
    refuse until the caller folds them (:func:`compact_deltas`)."""
    if list_deltas(table_dir):
        raise RuntimeError(
            f"{op} on {table_dir} with unfolded delta appends present "
            "would silently drop/ignore their rows; run "
            "compact_deltas() first"
        )


def upsert(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    keys: list[str],
    delete_filter: Column | None = None,
    keep_snapshots: int = 2,
    partition_by: Sequence[str] | None = None,
    partition_scoped: bool = False,
    scope_from_base: bool = False,
    scope_fallback_frac: float = 1.0,
    sidecar: dict[str, str] | None = None,
) -> str:
    """MERGE ``updates`` into the table by ``keys``: matched base rows
    are replaced, unmatched update rows are inserted, and rows matching
    ``delete_filter`` (evaluated on the base) are dropped. Writes a new
    snapshot and swaps ``_CURRENT``; returns the new snapshot name.

    ``partition_scoped=True`` (requires ``partition_by``) rewrites ONLY
    the partitions the updates touch: base partitions without any
    update row are HARDLINKED from the live snapshot into the new one
    (immutable files, so links are safe; pruning a snapshot removes
    links, never shared data). This turns the COW merge cost from
    O(table) into O(touched partitions) — the difference between a
    workable and an unworkable per-delivery merge on a 100 TB index.
    CONTRACT: every partition column must be a deterministic function
    of the merge ``keys`` (a key's old and new rows then live in the
    same partition, so untouched partitions cannot hold stale rows for
    updated keys) — the caller owns that guarantee; ``delete_filter``
    is rejected here because it may select rows in untouched
    partitions.

    ``scope_from_base=True`` lifts that contract for layouts whose
    partition columns are a function of row CONTENTS rather than of
    the keys (e.g. the dedup index's buckets table, partitioned by
    bucket hash for read-side pruning): the touched set becomes
    ``partitions(updates) ∪ partitions(base rows matching the update
    keys)``, found with one column-pruned scan of the base (keys +
    partition columns only — a cheap read, vs. the full REWRITE this
    mode replaces). Stale rows of an updated key then always live in
    a rewritten partition, so the replace-per-key semantics hold
    without the function-of-keys guarantee.

    ``scope_fallback_frac``: when the updates' own partitions already
    cover at least this fraction of the EXISTING partitions (checked
    driver-side from the snapshot's hive dirs, before any base scan),
    scoping cannot prune meaningfully and the merge falls back to the
    plain full-rewrite commit — measured on the dedup probe, a scoped
    write that touches everything costs MORE than a full rewrite (it
    adds the membership predicate, the link walk, and under
    ``scope_from_base`` an extra base scan). 1.0 = fall back only on
    total coverage; content-hashed layouts whose updates fan out wide
    (one doc → rows in many partitions) should set it lower.

    Updates win unconditionally (last-writer-wins by arrival); a caller
    that must not let a redelivered STALE row regress newer state
    filters its updates first (the ingest status fold does so on the
    driver, ``streaming.ingest.status_dimension_sink``).

    The base side anti-joins the distinct update-key set (no hint —
    Catalyst/AQE broadcast it when it is small, which it usually is;
    huge backfill key sets degrade to a shuffle join instead of an
    unbounded forced broadcast). Single-writer assumed, like any
    log-less copy-on-write store.
    """
    snap = current_snapshot(table_dir)
    if snap is None:
        raise FileNotFoundError(f"no _CURRENT snapshot in {table_dir}")
    _reject_visible_deltas(table_dir, "upsert")
    _validate_sidecar_names(sidecar)
    if partition_scoped:
        if not partition_by:
            raise ValueError("partition_scoped requires partition_by")
        if delete_filter is not None:
            raise ValueError(
                "delete_filter may select rows in partitions the updates "
                "never touch; partition_scoped cannot honor it"
            )
    if scope_from_base and not partition_scoped:
        raise ValueError("scope_from_base requires partition_scoped")
    base = spark.read.parquet(os.path.join(table_dir, snap))
    touched: list[tuple] | None = None
    if partition_scoped:
        # the partition value list is bounded by the layout's partition
        # count (the caller sized it, e.g. pmod(hash(key), N)) — a tiny
        # driver-side collect that buys pruned reads AND linked writes
        touched_df = updates.select(*partition_by).distinct()
        upd_touched = [tuple(r) for r in touched_df.collect()]
        if not upd_touched:
            # empty updates touch nothing: the live snapshot IS the
            # merge result (the non-scoped path would rewrite an
            # identical table) — e.g. a crawl delivery whose docs all
            # shingle to nothing
            return snap
        # validate BEFORE the coverage heuristic: the heuristic
        # compares str(v) against raw hive dir names, which only
        # round-trips for the int values the scoped path accepts
        # anyway — validating late would let a special-char/float/bool
        # layout sail past a never-matching coverage check (ADVICE r8)
        _validate_scoped_values(partition_by, upd_touched)
        existing = _existing_partitions(
            os.path.join(table_dir, snap), list(partition_by)
        )

        def _covers(ts: list[tuple]) -> bool:
            covered = {tuple(str(v) for v in t) for t in ts} & existing
            return bool(existing) and (
                len(covered) >= scope_fallback_frac * len(existing)
            )

        if _covers(upd_touched):
            # scoping can't prune: go straight to the plain rewrite
            # (no membership predicate, no link walk, no base scan)
            partition_scoped = False
            touched = None
        elif scope_from_base:
            # partitions holding the updated keys' OLD rows: one
            # column-pruned scan (keys + partition cols reach the
            # parquet reader; nothing else is materialized)
            touched_df = touched_df.union(
                base.join(
                    updates.select(*keys).distinct(), keys, "left_semi"
                ).select(*partition_by)
            ).distinct()
            touched = [tuple(r) for r in touched_df.collect()]
            _validate_scoped_values(partition_by, touched)
            # re-check AFTER the union: a wide old-row partition set
            # can push the touched set to (near-)total coverage, where
            # the scoped write costs more than the rewrite it replaces
            if _covers(touched):
                partition_scoped = False
                touched = None
        else:
            touched = upd_touched
    if partition_scoped:
        # every path here already validated `touched` (upd_touched
        # pre-coverage; the scope_from_base union post-union)
        base = base.filter(_touched_predicate(partition_by, touched))
    if delete_filter is not None:
        # NULL predicate means "not deleted" — coalesce before negating,
        # else three-valued logic silently drops NULL-predicate rows
        base = base.filter(~F.coalesce(delete_filter, F.lit(False)))
    upd_keys = updates.select(*keys).distinct()
    kept = base.join(upd_keys, keys, "left_anti")
    merged = kept.unionByName(updates.select(*base.columns))

    if partition_scoped:
        return _scoped_commit(
            merged, table_dir, snap, partition_by, touched,
            sidecar, keep_snapshots,
        )
    return _write_next_snapshot(
        merged, table_dir, snap, keep_snapshots, partition_by, sidecar
    )


def _existing_partitions(
    snap_path: str, partition_by: list[str]
) -> set[tuple]:
    """The leaf hive-partition value tuples (string form) present in a
    snapshot — a driver-side directory walk, no Spark job. Bounded by
    the layout's partition count."""
    out: set[tuple] = set()

    def _walk(d: str, depth: int, vals: tuple) -> None:
        try:
            entries = os.listdir(d)
        except OSError:
            return
        for entry in entries:
            p = os.path.join(d, entry)
            if os.path.isdir(p) and entry.startswith(
                partition_by[depth] + "="
            ):
                v = entry.split("=", 1)[1]
                if depth + 1 == len(partition_by):
                    out.add(vals + (v,))
                else:
                    _walk(p, depth + 1, vals + (v,))

    _walk(snap_path, 0, ())
    return out


def _touched_predicate(partition_by: Sequence[str], touched: list[tuple]):
    """OR-of-ANDs membership predicate over the touched partition
    values."""
    import functools
    import operator

    return functools.reduce(
        operator.or_,
        [
            functools.reduce(
                operator.and_,
                [
                    F.col(c).eqNullSafe(F.lit(v))
                    for c, v in zip(partition_by, t)
                ],
            )
            for t in touched
        ],
    )


def _scoped_commit(
    df: DataFrame,
    table_dir: str,
    live_snap: str,
    partition_by: Sequence[str],
    touched: list[tuple],
    sidecar: dict[str, str] | None,
    keep_snapshots: int,
) -> str:
    """The one copy of the partition-scoped commit sequence shared by
    upsert and delete_keys: write the touched partitions, hardlink the
    untouched ones from the live snapshot, commit sidecars, swap the
    pointer, prune.

    Guards the empty-snapshot hole: a partitioned write of an empty
    frame emits no schema-bearing file, so a delete that empties every
    touched partition while touching ALL existing partitions would
    leave an unreadable snapshot ("Unable to infer schema"). When the
    commit produced no parquet file at all, the (empty) frame is
    appended UNPARTITIONED — partition columns are ordinary columns of
    ``df``, so readers see the same schema, and there are no hive dirs
    left for the layouts to conflict with."""
    new_name = _prepare_next_snapshot(table_dir, live_snap)
    new_path = os.path.join(table_dir, new_name)
    df.write.mode("errorifexists").partitionBy(
        *partition_by
    ).parquet(new_path)
    _link_untouched_partitions(
        os.path.join(table_dir, live_snap), new_path,
        list(partition_by), touched,
    )
    _guard_empty_partitioned(df, new_path, partition_by)
    _write_sidecars(new_path, _carry_delta_floor(table_dir, sidecar))
    _swap_pointer(table_dir, new_name)
    _prune(table_dir, keep=keep_snapshots)
    return new_name


def _validate_scoped_values(
    partition_by: Sequence[str], touched: list[tuple]
) -> None:
    """The hardlink step compares hive dir values by str(v); only types
    whose hive encoding round-trips through str() are safe — anything
    else risks silently linking a partition the scoped write also
    rewrote (duplicates)."""
    for t in touched:
        for c, v in zip(partition_by, t):
            if not isinstance(v, int) or isinstance(v, bool):
                raise ValueError(
                    "partition_scoped requires non-null int "
                    f"partition values; {c}={v!r} "
                    f"({type(v).__name__}) does not round-trip "
                    "through hive dir names safely"
                )


def delete_keys(
    spark: SparkSession,
    table_dir: str,
    del_keys: DataFrame,
    keys: list[str],
    partition_by: Sequence[str] | None = None,
    partition_scoped: bool = False,
    keep_snapshots: int = 2,
    sidecar: dict[str, str] | None = None,
) -> str:
    """Targeted delete: drop EVERY base row whose ``keys`` match a row
    of ``del_keys`` (anti-join — multi-row keys all go), as a new
    snapshot. The deletion primitive behind right-to-be-forgotten
    sweeps over pipeline artifact tables.

    ``partition_scoped=True`` rewrites only the partitions holding the
    deleted keys' rows and HARDLINKS the rest (the upsert mechanism).
    ``del_keys`` must then CARRY the ``partition_by`` columns, and the
    caller owns this contract: the distinct partition values in
    ``del_keys`` must cover every partition holding rows of those keys
    — true when the partition columns are deterministic functions of
    the keys (the upsert contract), or when ``del_keys`` was projected
    from the table itself (enumerating exactly where the rows live).
    A missed partition silently RETAINS supposedly-deleted rows, which
    in a forget flow is a privacy bug, not a perf bug.

    Unlike ``upsert(delete_filter=...)`` (rejected under scoping
    because an arbitrary predicate may select rows anywhere), a
    key-set delete can honor scoping under the contract above."""
    snap = current_snapshot(table_dir)
    if snap is None:
        raise FileNotFoundError(f"no _CURRENT snapshot in {table_dir}")
    _reject_visible_deltas(table_dir, "delete_keys")
    _validate_sidecar_names(sidecar)
    if partition_scoped and not partition_by:
        raise ValueError("partition_scoped requires partition_by")
    base = spark.read.parquet(os.path.join(table_dir, snap))
    cols = list(keys)
    if partition_scoped:
        cols += [c for c in partition_by if c not in cols]
    key_set = del_keys.select(*cols).distinct()
    if partition_scoped:
        touched = [
            tuple(r) for r in
            key_set.select(*partition_by).distinct().collect()
        ]
        if not touched:
            return snap  # nothing to delete
        _validate_scoped_values(partition_by, touched)
        kept = base.filter(
            _touched_predicate(partition_by, touched)
        ).join(key_set.select(*keys).distinct(), keys, "left_anti")
        return _scoped_commit(
            kept, table_dir, snap, partition_by, touched,
            sidecar, keep_snapshots,
        )
    kept = base.join(key_set, keys, "left_anti")
    return _write_next_snapshot(
        kept, table_dir, snap, keep_snapshots, partition_by, sidecar
    )


def _prepare_next_snapshot(table_dir: str, live_snap: str) -> str:
    """Orphan cleanup + next snapshot name. Next index = live pointer
    + 1 AFTER removing orphans: a crash between a snapshot write and
    the pointer swap leaves an orphan dir, and writing into it would
    collide forever (errorifexists). Orphans newer than the live
    pointer are dead (never referenced) — removed first so a
    half-written directory can't be confused for data."""
    live_idx = int(live_snap.split("-")[1])
    for d in sorted(os.listdir(table_dir)):
        if d.startswith("snap-") and int(d.split("-")[1]) > live_idx:
            shutil.rmtree(os.path.join(table_dir, d))
    return _snap_name(live_idx + 1)


def _link_untouched_partitions(
    old_path: str,
    new_path: str,
    partition_by: list[str],
    touched: list[tuple],
) -> None:
    """Hardlink every leaf partition dir of the live snapshot whose
    partition values are NOT in ``touched`` into the new snapshot —
    snapshot files are immutable, so links are safe, and pruning an old
    snapshot unlinks names without affecting shared data. Hive dir
    values are compared by string form (the partition columns under
    this contract are non-null ints, where str() round-trips)."""
    touched_strs = {tuple(str(v) for v in t) for t in touched}

    def _walk(old_dir: str, new_dir: str, depth: int, vals: tuple) -> None:
        for entry in os.listdir(old_dir):
            src = os.path.join(old_dir, entry)
            if depth == 0:
                # snapshot-level bookkeeping files (_SUCCESS): the new
                # write already produced its own
                if not os.path.isdir(src):
                    continue
            if os.path.isdir(src) and entry.startswith(
                partition_by[depth] + "="
            ):
                v = entry.split("=", 1)[1]
                if depth + 1 == len(partition_by):
                    if vals + (v,) in touched_strs:
                        continue  # rewritten by the scoped write
                    dst = os.path.join(new_dir, entry)
                    os.makedirs(dst, exist_ok=True)
                    for f in os.listdir(src):
                        sf = os.path.join(src, f)
                        if os.path.isfile(sf):
                            os.link(sf, os.path.join(dst, f))
                else:
                    _walk(src, os.path.join(new_dir, entry),
                          depth + 1, vals + (v,))

    _walk(old_path, new_path, 0, ())


def _write_next_snapshot(
    df: DataFrame,
    table_dir: str,
    live_snap: str,
    keep_snapshots: int,
    partition_by: Sequence[str] | None = None,
    sidecar: dict[str, str] | None = None,
) -> str:
    """The one copy of the full-rewrite commit sequence shared by
    upsert and replace_table: clean dead orphans, write the next
    snapshot dir, swap the pointer atomically, prune."""
    _validate_sidecar_names(sidecar)
    new_name = _prepare_next_snapshot(table_dir, live_snap)
    path = os.path.join(table_dir, new_name)
    w = df.write.mode("errorifexists")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
    _guard_empty_partitioned(df, path, partition_by)
    _write_sidecars(path, _carry_delta_floor(table_dir, sidecar))
    _swap_pointer(table_dir, new_name)
    _prune(table_dir, keep=keep_snapshots)
    return new_name


def replace_table(
    df: DataFrame,
    table_dir: str,
    keep_snapshots: int = 2,
    partition_by: Sequence[str] | None = None,
    sidecar: dict[str, str] | None = None,
) -> str:
    """Full-refresh write: replace the table's contents with ``df`` as
    a NEW snapshot and swap ``_CURRENT`` atomically — the rebuild
    counterpart to :func:`upsert` (pipeline stages that recompute
    their whole output each run, e.g. tools/run_corpus_pipeline.py).
    Creates the table if it does not exist; previous snapshots remain
    time-travelable up to ``keep_snapshots``. Same crash-orphan
    handling as upsert: dead snapshot dirs newer than the live pointer
    are removed before writing."""
    snap = current_snapshot(table_dir)
    if snap is None:
        return init_table(
            df, table_dir, partition_by=partition_by, sidecar=sidecar
        )
    _reject_visible_deltas(table_dir, "replace_table")
    return _write_next_snapshot(
        df, table_dir, snap, keep_snapshots, partition_by, sidecar
    )


def _swap_pointer(table_dir: str, name: str) -> None:
    tmp = os.path.join(table_dir, _CURRENT + ".tmp")
    with open(tmp, "w") as fh:
        fh.write(name + "\n")
    os.replace(tmp, os.path.join(table_dir, _CURRENT))  # atomic on POSIX


def _prune(table_dir: str, keep: int) -> None:
    snaps = sorted(
        d for d in os.listdir(table_dir) if d.startswith("snap-")
    )
    live = current_snapshot(table_dir)
    for d in snaps[:-keep] if keep > 0 else []:
        if d != live:
            shutil.rmtree(os.path.join(table_dir, d))


def snapshot_diff(
    spark: SparkSession,
    table_dir: str,
    old: str,
    new: str,
    keys: Sequence[str],
) -> DataFrame:
    """Change-data view between two retained snapshots: every key whose
    row was ``inserted``, ``deleted``, or ``updated`` from ``old`` to
    ``new``, with both row images as structs (null on the missing
    side) — the audit/CDC query a snapshot store owes its consumers.

    One full-outer join on the key columns; change classification is a
    null test plus a struct inequality on the non-key columns (struct
    comparison is JVM-side, null-safe per field). At scale both sides
    are immutable snapshot dirs, so the join partitions prune by any
    key-correlated layout the snapshots were written with; unchanged
    rows are filtered out before anything is collected.
    """
    old_df = read_table_snapshot(spark, table_dir, at=old)
    new_df = read_table_snapshot(spark, table_dir, at=new)
    keys = list(keys)
    # change classification diffs the non-key columns of BOTH sides; a
    # schema-evolved snapshot (added/removed columns) would otherwise
    # silently classify rows differing only in the new columns as
    # unchanged. Require identical column sets instead of guessing.
    if set(old_df.columns) != set(new_df.columns):
        only_old = sorted(set(old_df.columns) - set(new_df.columns))
        only_new = sorted(set(new_df.columns) - set(old_df.columns))
        raise ValueError(
            "snapshot_diff requires matching snapshot schemas; "
            f"only in {old!r}: {only_old}, only in {new!r}: {only_new}"
        )
    non_keys = [c for c in old_df.columns if c not in keys]
    o = old_df.select(
        *[F.col(k).alias(f"_ok_{k}") for k in keys],
        F.struct(*[F.col(c) for c in old_df.columns]).alias("old_row"),
    )
    n = new_df.select(
        *[F.col(k).alias(f"_nk_{k}") for k in keys],
        F.struct(*[F.col(c) for c in new_df.columns]).alias("new_row"),
    )
    cond = [
        o[f"_ok_{k}"].eqNullSafe(n[f"_nk_{k}"]) for k in keys
    ]
    joined = o.join(n, cond, "full_outer")
    change = (
        F.when(F.col("old_row").isNull(), F.lit("inserted"))
        .when(F.col("new_row").isNull(), F.lit("deleted"))
        .when(
            ~F.struct(
                *[F.col(f"old_row.{c}") for c in non_keys]
            ).eqNullSafe(
                F.struct(*[F.col(f"new_row.{c}") for c in non_keys])
            ),
            F.lit("updated"),
        )
    )
    key_cols = [
        F.coalesce(F.col(f"_ok_{k}"), F.col(f"_nk_{k}")).alias(k)
        for k in keys
    ]
    return (
        joined.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(*key_cols, "change", "old_row", "new_row")
    )


# -- delta log: O(batch) appends over a snapshot base -------------------------
#
# The COW snapshot store rewrites O(table) per commit (or O(touched
# partitions) when scoping can prune). For tables whose layout CANNOT
# localize a writer's rows — the dedup index's buckets table, whose
# partition key is a content hash that deliberately scatters every
# document (SCALING round-8) — the log-structured form applies: each
# delivery APPENDS a small immutable delta directory, readers union
# base + visible deltas, and a maintenance-cadence compaction folds
# deltas into the next base snapshot. The classic LSM trade: O(batch)
# per-delivery writes, a bounded extra read fan-in until compaction.
#
# Visibility and crash rules:
# * a delta is STAGED under an underscore name and renamed into place
#   only after its bytes (and the empty-frame schema guard) are
#   complete — readers never see a half-written or unreadable delta;
# * the live snapshot's ``_delta_floor`` sidecar records the highest
#   delta index already folded into the base — readers ignore deltas
#   <= floor, so a crash between a compaction's pointer swap and the
#   folded-dirs cleanup cannot double-count (the commit helpers carry
#   the floor forward through unrelated snapshot writes);
# * folded delta dirs get ONE compaction cadence of grace before
#   deletion (``_delta_floor_prev``) — the delta analogue of
#   ``keep_snapshots``, so an in-flight reader that resolved the
#   pre-compaction state keeps its files (``purge_dead_deltas`` exists
#   for the privacy path, where immediate removal wins);
# * delta indices increase forever (never reset), single-writer like
#   every other mutation here.

_DELTA_PREFIX = "delta-"
_DELTA_STAGE_PREFIX = "_delta_stage-"
DELTA_FLOOR_SIDECAR = "_delta_floor"
DELTA_FLOOR_PREV_SIDECAR = "_delta_floor_prev"


def _delta_name(i: int) -> str:
    return f"{_DELTA_PREFIX}{i:06d}"


def _delta_idx(name: str) -> int:
    return int(name.split("-", 1)[1])


def delta_floor(table_dir: str) -> int:
    v = read_sidecar(table_dir, DELTA_FLOOR_SIDECAR)
    return -1 if v is None else int(v)


def _delta_floor_prev(table_dir: str) -> int:
    v = read_sidecar(table_dir, DELTA_FLOOR_PREV_SIDECAR)
    return -1 if v is None else int(v)


def _delta_dirs(table_dir: str) -> list[str]:
    """All committed delta dirs, sorted NUMERICALLY (lexicographic
    order diverges past the 6-digit zero padding)."""
    return sorted(
        (d for d in os.listdir(table_dir)
         if d.startswith(_DELTA_PREFIX)),
        key=_delta_idx,
    )


def list_deltas(table_dir: str) -> list[str]:
    """Visible delta dirs (newer than the folded floor), in numeric
    index order."""
    floor = delta_floor(table_dir)
    return [d for d in _delta_dirs(table_dir) if _delta_idx(d) > floor]


def purge_dead_deltas(table_dir: str) -> list[str]:
    """Physically remove every INVISIBLE delta artifact — folded dirs
    at/below the floor and stage leftovers. Readers never resolve
    these, but their parquet bytes persist until janitored; on a
    privacy sweep that persistence IS the bug, so forget flows call
    this instead of waiting out the grace cadence."""
    gone = []
    floor = delta_floor(table_dir)
    for d in os.listdir(table_dir):
        p = os.path.join(table_dir, d)
        if d.startswith(_DELTA_STAGE_PREFIX):
            shutil.rmtree(p)
            gone.append(d)
        elif d.startswith(_DELTA_PREFIX) and _delta_idx(d) <= floor:
            shutil.rmtree(p)
            gone.append(d)
    return gone


def append_delta(
    table_dir: str,
    df: DataFrame,
    partition_by: Sequence[str] | None = None,
) -> str | None:
    """Append ``df`` as the next delta of an initialized table — an
    O(batch) write, no base rewrite, no pointer swap. The bytes are
    STAGED under an underscore name and renamed into place only once
    complete (readers never see a partial or schema-less delta); an
    EMPTY frame appends nothing and returns ``None``. Stage leftovers
    from crashed appends are removed first."""
    if current_snapshot(table_dir) is None:
        raise FileNotFoundError(
            f"no _CURRENT snapshot in {table_dir}; init_table first"
        )
    for d in os.listdir(table_dir):
        if d.startswith(_DELTA_STAGE_PREFIX):
            shutil.rmtree(os.path.join(table_dir, d))  # dead half-write
    # No pre-write emptiness probe (r13): the has_parquet check below
    # already detects an empty delivery (zero rows -> zero part files
    # -> stage removed, None returned), so a take(1) here only added a
    # second full job per delivery — the write IS the single pass.
    floor = delta_floor(table_dir)
    existing = [_delta_idx(d) for d in _delta_dirs(table_dir)]
    idx = max([floor, *existing]) + 1
    name = _delta_name(idx)
    stage = os.path.join(table_dir, f"{_DELTA_STAGE_PREFIX}{idx:06d}")
    w = df.write.mode("errorifexists")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(stage)
    # footer row count, not file presence: a non-partitioned empty
    # frame still writes one schema-only part file, and the contract
    # is that an empty delivery appends NOTHING (driver-side footer
    # reads of the just-written local files — no second Spark job)
    import pyarrow.parquet as _pq

    n_rows = sum(
        _pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
        for root, _, files in os.walk(stage)
        for f in files
        if f.endswith(".parquet")
    )
    if n_rows == 0:
        shutil.rmtree(stage)  # empty delivery: appending nothing
        return None
    os.rename(stage, os.path.join(table_dir, name))
    return name


def read_table_with_deltas(
    spark: SparkSession,
    table_dir: str,
    epoch_col: str | None = None,
) -> DataFrame:
    """The live snapshot unioned with every visible delta. With
    ``epoch_col``, rows carry their version: the folded floor for base
    rows, the delta index for delta rows — what latest-wins resolution
    (``compact_deltas(keys=...)`` or a read-side window) orders by.
    Delta reads reuse the base's schema (no per-dir inference; one
    listing per delta remains — size the compaction cadence so the
    visible-delta count stays bounded)."""
    floor = delta_floor(table_dir)
    base = read_table_snapshot(spark, table_dir)
    sch = base.schema
    if epoch_col is not None:
        base = base.withColumn(epoch_col, F.lit(floor).cast("long"))
    out = base
    for d in list_deltas(table_dir):
        part = spark.read.schema(sch).parquet(os.path.join(table_dir, d))
        if epoch_col is not None:
            part = part.withColumn(
                epoch_col, F.lit(_delta_idx(d)).cast("long")
            )
        out = out.unionByName(part.select(*out.columns))
    return out


def compact_deltas(
    spark: SparkSession,
    table_dir: str,
    keys: Sequence[str] | None = None,
    partition_by: Sequence[str] | None = None,
    keep_snapshots: int = 2,
    repartition: tuple[int, str] | None = None,
    sidecar: dict[str, str] | None = None,
) -> str:
    """Fold every visible delta into the next base snapshot. With
    ``keys``, replace-per-key semantics: each key keeps only the rows
    of its HIGHEST epoch (a redelivered key's superseded base/delta
    rows drop out); without, a plain union. ``repartition=(n, col)``
    clusters the fold output so the new base lands one-file-per-hive-
    partition — the file-count maintenance in the SAME commit, no
    second O(table) rewrite. Commits the new ``_delta_floor``
    atomically with the snapshot; folded dirs from the PREVIOUS
    cadence are removed, the just-folded ones stay one cadence as
    reader grace (the delta analogue of ``keep_snapshots``). Cost is
    O(base + deltas), paid once per cadence instead of per
    delivery."""
    deltas = list_deltas(table_dir)
    live = current_snapshot(table_dir)
    if live is None:
        raise FileNotFoundError(f"no _CURRENT snapshot in {table_dir}")
    if not deltas:
        return live
    old_floor = delta_floor(table_dir)
    top = max(_delta_idx(d) for d in deltas)
    df = read_table_with_deltas(spark, table_dir, epoch_col="_epoch")
    if keys:
        wk = Window.partitionBy(*[F.col(k) for k in keys])
        df = (
            df.withColumn("_mx", F.max("_epoch").over(wk))
            .filter(F.col("_epoch") == F.col("_mx"))
            .drop("_mx")
        )
    df = df.drop("_epoch")
    if repartition is not None:
        df = df.repartition(repartition[0], repartition[1])
    new_sidecar = dict(sidecar or {})
    new_sidecar[DELTA_FLOOR_SIDECAR] = str(top)
    new_sidecar[DELTA_FLOOR_PREV_SIDECAR] = str(old_floor)
    name = _write_next_snapshot(
        df, table_dir, live, keep_snapshots, partition_by, new_sidecar
    )
    # grace rule: remove only dirs folded a full cadence ago
    for d in _delta_dirs(table_dir):
        if _delta_idx(d) <= old_floor:
            shutil.rmtree(os.path.join(table_dir, d))
    return name
