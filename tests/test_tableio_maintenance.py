"""Storage maintenance: small-file compaction + snapshot expiry / orphan GC
(the Iceberg rewrite_data_files / expire_snapshots / remove_orphan_files
trio, on the stand-in)."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from log_aggregator_spark.tableio import SnapshotTable, TableGroup


def _n_data_files(root):
    return len([
        p for p in glob.glob(os.path.join(root, "data", "*", "part-*"))
        if not p.endswith(".crc")
    ])


def test_commit_keeps_only_files_with_rows(spark, tmp_path):
    """Spark's writer writes task 0's file even when its partition is
    empty. A commit lists, and leaves on disk, only the files that hold
    rows: 3 rows over 4 partitions (the first one empty) give 3 files, and
    an all-empty overwrite gives none and reads back empty under its
    schema. Expiry then deletes exactly the files history listed."""
    root = str(tmp_path / "t")
    t = SnapshotTable(root)
    three = spark.range(3, numPartitions=4)
    t.commit(three)
    files = t.snapshot(1).files(t.MEMBER)
    assert [pq.read_metadata(f).num_rows for f in files] == [1, 1, 1]
    assert _n_data_files(root) == 3

    t.commit(three.where("id < 0"), mode="overwrite")
    assert t.snapshot(2).files(t.MEMBER) == []
    empty = t.read(spark)
    assert empty.columns == ["id"] and empty.count() == 0
    assert _n_data_files(root) == 3

    assert t.expire_snapshots(keep_last=1)["deleted_files"] == 3
    assert _n_data_files(root) == 0


def test_compact_reduces_files_preserves_rows(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    for i in range(5):
        t.commit(spark.range(i * 10, (i + 1) * 10).repartition(4)
                 .select(F.col("id").alias("x")))
    assert t.current_snapshot() == 5
    before_files = len(t.snapshot(5).files(t.MEMBER))
    assert before_files >= 20  # 5 commits × 4 files

    snap = t.compact(spark)
    assert snap == 6
    after_files = len(t.snapshot(6).files(t.MEMBER))
    assert after_files < before_files
    assert sorted(r["x"] for r in t.read(spark).collect()) == list(range(50))
    # history preserved until expiry: time travel to pre-compaction works
    assert t.read(spark, snapshot=5).count() == 50
    assert t.lineage()["compacted_from"] == 5


def test_expire_snapshots_gc_orphans(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    for i in range(4):
        t.commit(spark.range(i * 5, (i + 1) * 5).select(F.col("id").alias("x")))
    t.compact(spark)  # snapshot 5: fresh file set; 1-4 now redundant history

    # fake a crash orphan: a data dir never referenced by any manifest
    orphan = os.path.join(str(tmp_path / "t"), "data", "deadbeef")
    os.makedirs(orphan)
    open(os.path.join(orphan, "part-00000-crash.parquet"), "wb").write(b"x")

    res = t.expire_snapshots(keep_last=1)
    assert res["expired"] == [1, 2, 3, 4]
    assert res["deleted_files"] > 0
    # min-age guard (ADVICE r2): the FRESH never-manifested dir survives —
    # it is indistinguishable from a concurrent commit's pre-CAS files
    assert os.path.exists(orphan)
    # past the age threshold it is a true crash orphan and goes
    res2 = t.expire_snapshots(keep_last=1, orphan_min_age_sec=0)
    assert res2["deleted_files"] == 1
    assert not os.path.exists(orphan)
    # current snapshot intact and readable
    assert sorted(r["x"] for r in t.read(spark).collect()) == list(range(20))
    # only the kept snapshot's files remain on disk
    assert _n_data_files(str(tmp_path / "t")) == len(t.snapshot(5).files(t.MEMBER))
    # time travel past the horizon is gone, loudly
    with pytest.raises(FileNotFoundError):
        t._manifest(2)


def test_expire_removes_old_manifest_temp_files(spark, tmp_path):
    """A crash between ``_publish``'s temp write and its removal leaves a
    ``manifests/.tmp-*`` file that no reader lists. Expiry removes one
    older than ``orphan_min_age_sec``; a younger one may belong to a live
    commit that has not linked it yet, so it stays."""
    g = TableGroup(str(tmp_path / "g"))
    g.commit({"m": (spark.range(3), "append")})
    leftover = os.path.join(g._manifest_dir, ".tmp-crashed")
    with open(leftover, "w") as f:
        f.write("{}")
    g.expire_snapshots()
    assert os.path.exists(leftover)
    g.expire_snapshots(orphan_min_age_sec=0)
    assert not os.path.exists(leftover)
    assert g._snapshot_ids() == [1] and g.table("m").read(spark).count() == 3


def test_group_compact_and_expire(spark, tmp_path):
    g = TableGroup(str(tmp_path / "g"))
    for i in range(3):
        g.commit({
            "routed": (spark.range(i * 10, (i + 1) * 10)
                       .repartition(3).select(F.col("id").alias("x")), "append"),
            "ckpt": (spark.range(5).select(F.col("id").alias("y")), "overwrite"),
        })
    routed_files = len(g.snapshot(3).files("routed"))
    assert routed_files == 9

    snap = g.compact(spark, names=["routed"])
    assert snap == 4
    assert len(g.snapshot(4).files("routed")) < routed_files
    # untouched member carried forward identically
    assert g.snapshot(4).files("ckpt") == g.snapshot(3).files("ckpt")
    assert sorted(r["x"] for r in g.table("routed").read(spark).collect()) == list(range(30))

    res = g.expire_snapshots(keep_last=1)
    assert res["expired"] == [1, 2, 3]
    assert sorted(r["x"] for r in g.table("routed").read(spark).collect()) == list(range(30))
    assert g.table("ckpt").read(spark).count() == 5


def test_compact_fails_on_append_landing_after_its_read(spark, tmp_path, monkeypatch):
    """compact commits against the snapshot it read: an append that lands
    between its read and its commit fails it with ConcurrentCommitError,
    where an overwrite of the read file list would silently drop the
    appended rows. A retry compacts them in."""
    from log_aggregator_spark.tableio import ConcurrentCommitError

    g = TableGroup(str(tmp_path / "g"))
    for i in range(2):
        g.commit({"routed": (
            spark.range(i * 10, (i + 1) * 10).repartition(3)
            .select(F.col("id").alias("x")), "append"
        )})
    real_commit = TableGroup.commit
    late = {"df": spark.range(20, 25).select(F.col("id").alias("x"))}

    def append_first(self, tables, lineage=None, **kwargs):
        df, late["df"] = late["df"], None
        if df is not None:
            real_commit(self, {"routed": (df, "append")})
        return real_commit(self, tables, lineage, **kwargs)

    def rows():
        return sorted(r["x"] for r in g.table("routed").read(spark).collect())

    monkeypatch.setattr(TableGroup, "commit", append_first)
    with pytest.raises(ConcurrentCommitError):
        g.compact(spark, names=["routed"])
    assert rows() == list(range(25))
    assert g.compact(spark, names=["routed"]) == 4
    assert rows() == list(range(25))


def test_group_empty_commit_is_carry_forward(spark, tmp_path):
    """commit({}) publishes a snapshot with every member carried forward —
    reachable via compact() when every named member is empty (e.g. right
    after compact_clusters emptied the label remap); the threaded write
    pool must not choke on zero items."""
    g = TableGroup(str(tmp_path / "g"))
    g.commit({
        "labels": (spark.range(5).select(F.col("id").alias("x")), "append"),
        "remap": (
            spark.createDataFrame([], schema="old_label long, new_label long"),
            "overwrite",
        ),
    })
    snap = g.compact(spark, names=["remap"])  # empty member -> zero writes
    assert snap == 2
    assert g.snapshot(2).files("labels") == g.snapshot(1).files("labels")
    assert g.table("remap").read(spark).count() == 0
    assert g.commit({}) == 3  # pure carry-forward commit
    assert g.table("labels").read(spark).count() == 5


def test_commit_against_expired_parent_raises(spark, tmp_path, monkeypatch):
    """A commit read snapshot 1; while it writes its members, three rival
    commits land and ``expire_snapshots(keep_last=1)`` removes snapshots 1
    to 3. Its id, 2, is then free again, but a snapshot newer than its
    parent exists, so it raises ConcurrentCommitError. Linked anyway, it
    reported success for a snapshot that no reader sees: the current
    snapshot stays 4."""
    from pyspark.sql.readwriter import DataFrameWriter

    from log_aggregator_spark.tableio import ConcurrentCommitError

    g = TableGroup(str(tmp_path / "g"))
    df = spark.range(3).select(F.col("id").alias("x"))
    g.commit({"m": (df, "append")})
    real_parquet = DataFrameWriter.parquet

    def rivals_then_write(self, path, *args, **kwargs):
        monkeypatch.setattr(DataFrameWriter, "parquet", real_parquet)
        for i in range(3):
            g.commit({}, lineage={"rival": i})
        assert g.expire_snapshots(keep_last=1)["expired"] == [1, 2, 3]
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", rivals_then_write)
    with pytest.raises(ConcurrentCommitError):
        g.commit({"m": (df, "append")}, parent=g.snapshot(1))
    assert g._snapshot_ids() == [4]
    assert g.table("m").read(spark).count() == 3


def test_commit_writes_run_in_callers_job_group(spark, tmp_path):
    """A group commit writes its members on driver threads. Each write runs
    with the caller's local properties, so every Spark job of the commit
    belongs to the caller's job group, and cancelling the group stops the
    writes. Threads that did not inherit them put none of a two-member
    commit's jobs in the group."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()

    def job_ids() -> set[int]:
        jsc.listenerBus().waitUntilEmpty()
        jobs = jsc.statusStore().jobsList(None)
        return {jobs.apply(i).jobId() for i in range(jobs.size())}

    g = TableGroup(str(tmp_path / "g"))
    before = job_ids()
    sc.setJobGroup("commit-group", "a two-member commit")
    try:
        g.commit({"a": (spark.range(3), "append"), "b": (spark.range(2), "overwrite")})
    finally:
        sc._jsc.clearJobGroup()
    new = job_ids() - before
    in_group = set(sc.statusTracker().getJobIdsForGroup("commit-group"))
    assert len(new) >= 2 and new == in_group, (new, in_group)


def test_member_dirs_hold_only_data_files(spark, tmp_path):
    """A committed member dir holds its parquet files and their checksums,
    and no ``_SUCCESS`` marker: the manifest is the commit point."""
    g = TableGroup(str(tmp_path / "g"))
    g.commit({"a": (spark.range(3), "append"), "b": (spark.range(2), "overwrite")})
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(spark.range(4))
    dirs = glob.glob(str(tmp_path / "*" / "data" / "*"))
    assert len(dirs) == 3
    for d in dirs:
        names = os.listdir(d)
        assert names and all(
            n.startswith("part-") or (n.startswith(".part-") and n.endswith(".crc"))
            for n in names
        ), names
