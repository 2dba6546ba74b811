"""Copy-on-write upsert / snapshot-pointer semantics (io/merge.py)."""

import os

import pytest
from pyspark.sql import Row, Window, functions as F

from solar_logger_spark.io import merge as M


@pytest.fixture()
def table(spark, tmp_path):
    base = spark.createDataFrame(
        [
            Row(device_id=1, name="mate-a", status="online"),
            Row(device_id=2, name="mate-b", status="online"),
            Row(device_id=3, name="mate-c", status="offline"),
        ]
    )
    d = str(tmp_path / "devices")
    M.init_table(base, d)
    return d


def test_init_and_read(spark, table):
    assert M.current_snapshot(table) == "snap-000000"
    got = M.read_table_snapshot(spark, table)
    assert got.count() == 3


def test_upsert_replaces_and_inserts(spark, table):
    updates = spark.createDataFrame(
        [
            Row(device_id=2, name="mate-b2", status="offline"),  # replace
            Row(device_id=9, name="mate-new", status="online"),  # insert
        ]
    )
    name = M.upsert(spark, table, updates, keys=["device_id"])
    assert name == "snap-000001"
    rows = {
        r.device_id: r
        for r in M.read_table_snapshot(spark, table).collect()
    }
    assert set(rows) == {1, 2, 3, 9}
    assert rows[2].name == "mate-b2" and rows[2].status == "offline"
    assert rows[9].name == "mate-new"
    assert rows[1].name == "mate-a"  # untouched


def test_upsert_with_delete_filter(spark, table):
    updates = spark.createDataFrame(
        [Row(device_id=1, name="mate-a1", status="online")]
    )
    M.upsert(
        spark,
        table,
        updates,
        keys=["device_id"],
        delete_filter=F.col("status") == "offline",
    )
    rows = {
        r.device_id: r
        for r in M.read_table_snapshot(spark, table).collect()
    }
    assert set(rows) == {1, 2}  # 3 deleted (offline), 1 replaced
    assert rows[1].name == "mate-a1"


def test_old_snapshots_pruned_and_pointer_atomic(spark, table):
    for i in range(3):
        upd = spark.createDataFrame(
            [Row(device_id=100 + i, name=f"n{i}", status="online")]
        )
        M.upsert(spark, table, upd, keys=["device_id"], keep_snapshots=2)
    snaps = sorted(d for d in os.listdir(table) if d.startswith("snap-"))
    assert len(snaps) == 2  # pruned to keep_snapshots
    assert M.current_snapshot(table) == snaps[-1]
    assert M.read_table_snapshot(spark, table).count() == 6  # 3 + 3 inserts


def test_upsert_requires_initialized_table(spark, tmp_path):
    upd = spark.createDataFrame([Row(device_id=1, name="x", status="y")])
    with pytest.raises(FileNotFoundError, match="_CURRENT"):
        M.upsert(spark, str(tmp_path / "nope"), upd, keys=["device_id"])


def test_time_travel_read(spark, table):
    upd = spark.createDataFrame(
        [Row(device_id=2, name="mate-b2", status="offline")]
    )
    M.upsert(spark, table, upd, keys=["device_id"], keep_snapshots=5)
    old = M.read_table_snapshot(spark, table, at="snap-000000")
    new = M.read_table_snapshot(spark, table)
    assert {r.name for r in old.collect()} == {"mate-a", "mate-b", "mate-c"}
    assert "mate-b2" in {r.name for r in new.collect()}
    with pytest.raises(FileNotFoundError, match="not retained"):
        M.read_table_snapshot(spark, table, at="snap-000099")


def test_upsert_recovers_from_orphan_snapshot_dir(spark, table):
    """A crash between snapshot write and pointer swap leaves an orphan
    dir; the next upsert must clean it and proceed, not collide."""
    orphan = os.path.join(table, "snap-000001")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-partial.parquet"), "wb") as fh:
        fh.write(b"garbage-from-a-crashed-writer")
    upd = spark.createDataFrame(
        [Row(device_id=9, name="new", status="online")]
    )
    name = M.upsert(spark, table, upd, keys=["device_id"])
    assert name == "snap-000001"
    assert M.read_table_snapshot(spark, table).count() == 4


def test_snapshot_diff_classifies_changes(spark, tmp_path):
    from pyspark.sql import Row
    from solar_logger_spark.io import merge as M

    tdir = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [
            Row(k=1, v="a", x=1.0),
            Row(k=2, v="b", x=2.0),
            Row(k=3, v="c", x=3.0),
        ]
    )
    s0 = M.init_table(base, tdir)
    upd = spark.createDataFrame(
        [
            Row(k=2, v="B", x=2.0),   # updated
            Row(k=4, v="d", x=4.0),   # inserted
        ]
    )
    s1 = M.upsert(spark, tdir, upd, keys=["k"])
    # emulate a delete in a second upsert generation: rewrite without 3
    diff = {r.k: r for r in
            M.snapshot_diff(spark, tdir, s0, s1, keys=["k"]).collect()}
    assert set(diff) == {2, 4}
    assert diff[2].change == "updated"
    assert diff[2].old_row.v == "b" and diff[2].new_row.v == "B"
    assert diff[4].change == "inserted" and diff[4].old_row is None
    # reversed direction reads the insert as a delete
    rev = {r.k: r.change for r in
           M.snapshot_diff(spark, tdir, s1, s0, keys=["k"]).collect()}
    assert rev == {2: "updated", 4: "deleted"}


def test_snapshot_diff_rejects_schema_evolution(spark, tmp_path, monkeypatch):
    """A snapshot pair with differing column sets must be rejected:
    diffing only the shared columns would silently classify rows that
    changed in the added column as unchanged."""
    import pytest
    from pyspark.sql import Row
    from solar_logger_spark.io import merge as M

    old = spark.createDataFrame([Row(k=1, v="a")])
    new = spark.createDataFrame([Row(k=1, v="a", extra=1)])
    monkeypatch.setattr(
        M, "read_table_snapshot",
        lambda _spark, _dir, at: old if at == "s0" else new,
    )
    with pytest.raises(ValueError, match="extra"):
        M.snapshot_diff(spark, "ignored", "s0", "s1", keys=["k"])


def test_replace_table_full_refresh_and_time_travel(spark, tmp_path):
    from pyspark.sql import Row
    from solar_logger_spark.io import merge as M

    tdir = str(tmp_path / "t")
    s0 = M.replace_table(spark.createDataFrame([Row(k=1, v="a")]), tdir)
    s1 = M.replace_table(spark.createDataFrame([Row(k=2, v="b")]), tdir)
    assert s0 != s1
    # full refresh: only the new contents are live
    assert [r.k for r in M.read_table_snapshot(spark, tdir).collect()] == [2]
    # the previous snapshot stays time-travelable
    assert [r.k for r in
            M.read_table_snapshot(spark, tdir, at=s0).collect()] == [1]


@pytest.fixture()
def ptable(spark, tmp_path):
    """A partitioned table: key k, partition p = k % 4 (a function of
    the key — the partition-scoped contract)."""
    rows = [Row(k=i, p=i % 4, v=f"v{i}") for i in range(20)]
    d = str(tmp_path / "ptab")
    M.init_table(spark.createDataFrame(rows), d, partition_by=["p"])
    return d


def test_partition_scoped_upsert_matches_full_rewrite(spark, ptable):
    upd = spark.createDataFrame(
        [Row(k=1, p=1, v="NEW"), Row(k=100, p=0, v="INS")]
    )
    M.upsert(spark, ptable, upd, keys=["k"], partition_by=["p"],
             partition_scoped=True)
    got = {
        (r.k, r.p, r.v)
        for r in M.read_table_snapshot(spark, ptable).collect()
    }
    exp = {
        (i, i % 4, f"v{i}") for i in range(20) if i != 1
    } | {(1, 1, "NEW"), (100, 0, "INS")}
    assert got == exp


def test_partition_scoped_upsert_links_untouched_partitions(spark, ptable):
    """Partitions without update rows must be HARDLINKED from the live
    snapshot (same inode), not rewritten; touched partitions must be
    new files."""
    upd = spark.createDataFrame([Row(k=2, p=2, v="NEW")])
    old = M.current_snapshot(ptable)
    new = M.upsert(spark, ptable, upd, keys=["k"], partition_by=["p"],
                   partition_scoped=True, keep_snapshots=5)

    def inodes(snap, part):
        d = os.path.join(ptable, snap, f"p={part}")
        return {
            os.stat(os.path.join(d, f)).st_ino
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    for part in (0, 1, 3):  # untouched: shared inodes
        assert inodes(new, part) == inodes(old, part)
    assert inodes(new, 2).isdisjoint(inodes(old, 2))  # rewritten
    # pruning the old snapshot must not damage the linked data
    M._prune(ptable, keep=1)
    assert not os.path.isdir(os.path.join(ptable, old))
    got = {r.k for r in M.read_table_snapshot(spark, ptable).collect()}
    assert got == set(range(20))


def test_partition_scoped_upsert_validations(spark, ptable):
    upd = spark.createDataFrame([Row(k=1, p=1, v="x")])
    with pytest.raises(ValueError, match="partition_by"):
        M.upsert(spark, ptable, upd, keys=["k"], partition_scoped=True)
    with pytest.raises(ValueError, match="delete_filter"):
        M.upsert(spark, ptable, upd, keys=["k"], partition_by=["p"],
                 partition_scoped=True, delete_filter=F.lit(True))


def test_partition_scoped_upsert_empty_updates_is_noop(spark, ptable):
    before = M.current_snapshot(ptable)
    upd = spark.createDataFrame([], "k long, p int, v string")
    out = M.upsert(spark, ptable, upd, keys=["k"], partition_by=["p"],
                   partition_scoped=True)
    assert out == before  # no new snapshot, no crash
    assert M.read_table_snapshot(spark, ptable).count() == 20


def test_partition_scoped_upsert_rejects_nonint_partition_values(
    spark, tmp_path
):
    d = str(tmp_path / "strpart")
    M.init_table(
        spark.createDataFrame([Row(k=1, p="a:b", v="x")]), d,
        partition_by=["p"],
    )
    upd = spark.createDataFrame([Row(k=1, p="a:b", v="y")])
    with pytest.raises(ValueError, match="int"):
        M.upsert(spark, d, upd, keys=["k"], partition_by=["p"],
                 partition_scoped=True)


def test_sidecar_invalid_name_fails_before_data_write(spark, tmp_path):
    # upsert with a bad sidecar name must not leave an orphan snapshot
    d = str(tmp_path / "t")
    M.init_table(spark.createDataFrame([Row(k=1)]), d)
    with pytest.raises(ValueError, match="sidecar"):
        M.upsert(spark, d, spark.createDataFrame([Row(k=2)]),
                 keys=["k"], sidecar={"meta": "x"})
    snaps = [s for s in os.listdir(d) if s.startswith("snap-")]
    assert snaps == ["snap-000000"]  # no orphan written


def test_partition_scoped_random_sequence_matches_full_rewrite(
    spark, tmp_path
):
    """Randomized differential: the same random sequence of MERGE
    batches applied through the partition-scoped path (hardlinks) and
    the full-rewrite path must leave byte-identical table CONTENTS at
    every step — insurance on the hardlink/touched-partition logic
    beyond the hand-picked cases."""
    import random

    rng = random.Random(23)
    scoped_d = str(tmp_path / "scoped")
    full_d = str(tmp_path / "full")
    base = [Row(k=i, p=i % 5, v=f"v{i}") for i in range(40)]
    M.init_table(spark.createDataFrame(base), scoped_d, partition_by=["p"])
    M.init_table(spark.createDataFrame(base), full_d, partition_by=["p"])

    next_id = 100
    for step in range(5):
        batch = []
        for _ in range(rng.randint(1, 8)):
            if rng.random() < 0.5:
                k = rng.randrange(40)          # update an original key
            else:
                k = next_id                    # insert a fresh key
                next_id += 1
            batch.append(Row(k=k, p=k % 5, v=f"s{step}k{k}"))
        upd = spark.createDataFrame(batch)
        M.upsert(spark, scoped_d, upd, keys=["k"], partition_by=["p"],
                 partition_scoped=True, keep_snapshots=1)
        M.upsert(spark, full_d, upd, keys=["k"], partition_by=["p"],
                 keep_snapshots=1)
        a = {
            (r.k, r.p, r.v)
            for r in M.read_table_snapshot(spark, scoped_d).collect()
        }
        b = {
            (r.k, r.p, r.v)
            for r in M.read_table_snapshot(spark, full_d).collect()
        }
        assert a == b, f"diverged at step {step}"


def test_scope_from_base_reaches_stale_partitions(spark, tmp_path):
    """When the partition column is a function of row CONTENTS (the
    buckets-table layout), a redelivered key's new rows can land in
    different partitions than its old rows. Plain partition_scoped
    would silently RETAIN the old rows; scope_from_base must locate
    and rewrite their partitions too — and still hardlink partitions
    holding neither old nor new rows."""
    rows = [Row(k=i, p=i % 4, v=f"v{i}") for i in range(20)]
    d = str(tmp_path / "cb")
    M.init_table(spark.createDataFrame(rows), d, partition_by=["p"])
    old_snap = M.current_snapshot(d)
    # key 5's old row lives in p=1; its replacement lands in p=3
    upd = spark.createDataFrame([Row(k=5, p=3, v="MOVED")])
    new_snap = M.upsert(
        spark, d, upd, keys=["k"], partition_by=["p"],
        partition_scoped=True, scope_from_base=True, keep_snapshots=5,
    )
    got = {(r.k, r.p, r.v) for r in M.read_table_snapshot(spark, d).collect()}
    exp = {(i, i % 4, f"v{i}") for i in range(20) if i != 5} | {(5, 3, "MOVED")}
    assert got == exp  # exactly one row for k=5, in its new partition

    def inodes(snap, part):
        pd_ = os.path.join(d, snap, f"p={part}")
        return {
            os.stat(os.path.join(pd_, f)).st_ino
            for f in os.listdir(pd_) if f.endswith(".parquet")
        }

    for part in (0, 2):  # neither old nor new rows: hardlinked
        assert inodes(new_snap, part) == inodes(old_snap, part)
    for part in (1, 3):  # old-row and new-row partitions: rewritten
        assert inodes(new_snap, part).isdisjoint(inodes(old_snap, part))

    with pytest.raises(ValueError, match="scope_from_base"):
        M.upsert(spark, d, upd, keys=["k"], scope_from_base=True)


# ------------------------------------------------------------- delta log

def test_delta_append_read_compact_cycle(spark, tmp_path):
    """O(batch) appends over a snapshot base: visible to readers,
    folded by compaction with replace-per-key (latest epoch wins),
    floor carried so folded deltas can never double-count."""
    d = str(tmp_path / "t")
    M.init_table(
        spark.createDataFrame([(1, "a", 0), (2, "b", 0)],
                              "k long, v string, p int"),
        d, partition_by=["p"],
    )
    M.append_delta(
        d, spark.createDataFrame([(3, "c", 1)], "k long, v string, p int"),
        partition_by=["p"],
    )
    # redelivery of k=1 with NEW content in a later delta
    M.append_delta(
        d, spark.createDataFrame([(1, "A2", 1)], "k long, v string, p int"),
        partition_by=["p"],
    )
    got = {
        (r.k, r.v)
        for r in M.read_table_with_deltas(spark, d).collect()
    }
    # pre-compaction read is the plain union (both k=1 versions visible;
    # latest-wins is the compaction's job or a read-side window)
    assert got == {(1, "a"), (2, "b"), (3, "c"), (1, "A2")}
    ep = {
        (r.k, r.v): r.e
        for r in M.read_table_with_deltas(spark, d, epoch_col="e").collect()
    }
    assert ep[(1, "a")] == -1 and ep[(3, "c")] == 0 and ep[(1, "A2")] == 1

    # snapshot mutations refuse while deltas are unfolded
    import pytest
    upd = spark.createDataFrame([(9, "z", 0)], "k long, v string, p int")
    with pytest.raises(RuntimeError, match="compact_deltas"):
        M.upsert(spark, d, upd, keys=["k"])
    with pytest.raises(RuntimeError, match="compact_deltas"):
        M.delete_keys(spark, d, upd.select("k"), keys=["k"])
    with pytest.raises(RuntimeError, match="compact_deltas"):
        M.replace_table(upd, d)

    M.compact_deltas(spark, d, keys=["k"], partition_by=["p"])
    got2 = {
        (r.k, r.v)
        for r in M.read_table_snapshot(spark, d).collect()
    }
    assert got2 == {(1, "A2"), (2, "b"), (3, "c")}
    assert M.list_deltas(d) == []
    assert M.delta_floor(d) == 1
    # reader grace: just-folded dirs survive one cadence (invisible,
    # bytes intact for in-flight readers that resolved them)
    assert os.path.isdir(os.path.join(d, "delta-000000"))
    # a later ordinary mutation carries the floor forward
    M.upsert(spark, d, upd, keys=["k"], partition_by=["p"])
    assert M.delta_floor(d) == 1
    nxt = M.append_delta(
        d, spark.createDataFrame([(4, "d", 0)], "k long, v string, p int"),
        partition_by=["p"],
    )
    assert nxt == "delta-000002"
    # second compaction removes the PREVIOUS cadence's folded dirs
    M.compact_deltas(spark, d, keys=["k"], partition_by=["p"])
    assert not os.path.isdir(os.path.join(d, "delta-000000"))
    assert not os.path.isdir(os.path.join(d, "delta-000001"))
    assert os.path.isdir(os.path.join(d, "delta-000002"))  # grace
    # the privacy path removes dead bytes IMMEDIATELY
    gone = M.purge_dead_deltas(d)
    assert "delta-000002" in gone
    assert not os.path.isdir(os.path.join(d, "delta-000002"))


def test_delta_staged_append_and_empty_noop(spark, tmp_path):
    """Appends stage under an underscore name and rename into place —
    a crash leftover is invisible to readers and removed by the next
    append; an EMPTY frame appends nothing."""
    d = str(tmp_path / "t")
    M.init_table(spark.createDataFrame([(1,)], "k long"), d)
    os.makedirs(os.path.join(d, "_delta_stage-000000"))
    assert M.list_deltas(d) == []
    assert M.read_table_with_deltas(spark, d).count() == 1
    empty = spark.createDataFrame([], "k long")
    assert M.append_delta(d, empty) is None
    assert M.list_deltas(d) == []
    name = M.append_delta(d, spark.createDataFrame([(2,)], "k long"))
    assert name == "delta-000000"  # stage leftover reclaimed
    assert not os.path.isdir(os.path.join(d, "_delta_stage-000000"))
    assert M.read_table_with_deltas(spark, d).count() == 2


def test_delta_log_randomized_differential(spark, tmp_path):
    """Randomized op-sequence pin for the delta log: a shuffled mix of
    keyed appends (some re-delivering existing keys with new values)
    and compactions must always read back — through
    ``read_table_with_deltas`` + a latest-epoch-wins resolution at
    compaction — exactly what a Python dict model holds. Crash
    leftovers (stage dirs) are injected along the way and must never
    change the answer."""
    import random

    rng = random.Random(80)
    d = str(tmp_path / "t")
    model: dict[int, str] = {}

    def batch(pairs):
        return spark.createDataFrame(
            [(k, v, k % 3) for k, v in pairs], "k long, v string, p int"
        )

    init = [(k, f"v{k}") for k in range(6)]
    model.update(init)
    M.init_table(batch(init), d, partition_by=["p"])

    next_id = 6
    for step in range(12):
        op = rng.random()
        if op < 0.6:
            # append: mix of fresh keys and re-deliveries
            pairs = []
            for _ in range(rng.randint(1, 4)):
                if model and rng.random() < 0.4:
                    k = rng.choice(list(model))
                else:
                    k, next_id = next_id, next_id + 1
                pairs.append((k, f"v{k}.{step}"))
            # within one delta a key appears once (the sink contract)
            dedup = dict(pairs)
            model.update(dedup)
            M.append_delta(d, batch(dedup.items()), partition_by=["p"])
        elif op < 0.8:
            M.compact_deltas(spark, d, keys=["k"], partition_by=["p"])
        else:
            os.makedirs(
                os.path.join(d, f"_delta_stage-99{step:04d}"), exist_ok=True
            )  # crash debris: must stay invisible

        got = {
            r.k: r.v
            for r in (
                M.read_table_with_deltas(spark, d, epoch_col="_e")
                .withColumn(
                    "_mx", F.max("_e").over(Window.partitionBy("k"))
                )
                .filter(F.col("_e") == F.col("_mx"))
                .collect()
            )
        }
        assert got == model, f"step {step} diverged"
    # final compaction: base alone equals the model, debris gone
    M.compact_deltas(spark, d, keys=["k"], partition_by=["p"])
    M.purge_dead_deltas(d)
    got = {r.k: r.v for r in M.read_table_snapshot(spark, d).collect()}
    assert got == model
    assert not [x for x in os.listdir(d) if x.startswith("_delta_stage")]
