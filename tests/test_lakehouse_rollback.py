"""History-preserving rollback: Delta RESTORE and Iceberg rollback.

Both are metadata-only commits — restore re-ADDs/REMOVEs log entries to
reproduce the target version's file set, rollback re-points
current-snapshot-id — and neither touches a data file; the rolled-back
versions stay time-travelable afterwards.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pyspark_excel_datasource_spark.sources.deltalog import (
    read_delta,
    restore_table,
    snapshot,
    vacuum,
    write_delta,
)
from pyspark_excel_datasource_spark.sources.iceberg import (
    read_iceberg,
    rollback_iceberg,
    snapshots,
    write_iceberg,
)

SF = "/root/testdata/sf0.001"


def _nation(spark):
    return spark.read.parquet(os.path.join(SF, "nation.parquet"))


def test_delta_restore_roundtrip(spark, tmp_path):
    path = str(tmp_path / "t")
    n = _nation(spark)
    write_delta(spark, n.filter(F.col("n_regionkey") < 2), path)  # v0
    write_delta(spark, n, path, mode="overwrite")  # v1
    write_delta(spark, n.limit(3), path, mode="overwrite")  # v2
    v = restore_table(spark, path, 0)
    assert v == 3
    want = {tuple(r) for r in n.filter(F.col("n_regionkey") < 2).collect()}
    got = {tuple(r) for r in read_delta(spark, path).collect()}
    assert got == want
    # history preserved: every prior version still time-travels
    assert read_delta(spark, path, version=1).count() == n.count()
    assert read_delta(spark, path, version=2).count() == 3
    # restore state == v0 state, file-for-file
    assert snapshot(path).files == snapshot(path, 0).files


def test_delta_restore_after_append(spark, tmp_path):
    path = str(tmp_path / "t")
    n = _nation(spark)
    write_delta(spark, n, path, partition_by=("n_regionkey",))  # v0
    write_delta(
        spark, n, path, mode="append", partition_by=("n_regionkey",)
    )  # v1
    restore_table(spark, path, 0)
    assert read_delta(spark, path).count() == n.count()
    # partition columns still attach from the log after the restore
    assert (
        read_delta(spark, path, partition_filter={"n_regionkey": {"3"}}).count()
        == n.filter(F.col("n_regionkey") == 3).count()
    )


def test_delta_restore_guards(spark, tmp_path):
    path = str(tmp_path / "t")
    n = _nation(spark)
    write_delta(spark, n, path)
    with pytest.raises(ValueError, match="not before"):
        restore_table(spark, path, 0)
    write_delta(spark, n.limit(2), path, mode="overwrite")
    # vacuum reaps v0's files -> restore must fail up front, not half-apply
    vacuum(path)
    with pytest.raises(FileNotFoundError, match="VACUUM"):
        restore_table(spark, path, 0)
    assert read_delta(spark, path).count() == 2  # table untouched


def test_iceberg_rollback_roundtrip(spark, tmp_path):
    path = str(tmp_path / "t")
    n = _nation(spark)
    write_iceberg(spark, n.filter(F.col("n_regionkey") < 2), path)  # s1
    write_iceberg(spark, n, path, mode="overwrite")  # s2
    rollback_iceberg(path, 1)
    want = {tuple(r) for r in n.filter(F.col("n_regionkey") < 2).collect()}
    got = {tuple(r) for r in read_iceberg(spark, path).collect()}
    assert got == want
    # history preserved: s2 still time-travels
    assert read_iceberg(spark, path, snapshot_id=2).count() == n.count()
    # the rollback is in the snapshot log's metadata trail
    assert [s["snapshot_id"] for s in snapshots(path)] == [2, 1]
    # writing after a rollback builds on the rolled-back state
    write_iceberg(spark, n.limit(1), path, mode="append")
    assert read_iceberg(spark, path).count() == want.__len__() + 1


def test_iceberg_rollback_guards(spark, tmp_path):
    path = str(tmp_path / "t")
    write_iceberg(spark, _nation(spark), path)
    with pytest.raises(ValueError, match="already current"):
        rollback_iceberg(path, 1)
    with pytest.raises(ValueError, match="not in table history"):
        rollback_iceberg(path, 99)


def test_expire_after_manifest_rewrite(spark, tmp_path):
    """VERDICT r13 #7: expiring snapshots right AFTER rewrite_manifests
    must GC exactly the right files. The replace snapshot references
    fresh consolidated manifests; history references the old ones; a
    delete manifest is shared verbatim across the rewrite. keep_last=2
    keeps the pre-rewrite head alive (its old manifests must survive and
    stay readable); a second expiry to keep_last=1 then reclaims them —
    and no data file is ever deleted, because the consolidated manifest
    references the same parquet the expired history did."""
    from pyspark_excel_datasource_spark.sources.iceberg import (
        delete_where_iceberg,
        expire_snapshots,
        rewrite_manifests,
        snapshot_iceberg,
    )

    path = str(tmp_path / "t")
    n = _nation(spark)
    for r in range(3):  # snaps 1..3: one data manifest each
        write_iceberg(
            spark,
            n.filter(F.col("n_nationkey") % 3 == r),
            path,
            mode="append" if r else "overwrite",
        )
    delete_where_iceberg(spark, path, "n_regionkey = 4")  # snap 4 (MOR)
    pre_rows = {tuple(r) for r in read_iceberg(spark, path).collect()}
    rw = rewrite_manifests(path)  # snap 5: replace, 3 -> 1 data manifests
    assert rw["manifests_before"] == 3 and rw["manifests_after"] == 1

    data_files_before = sorted(
        f
        for root, _, names in os.walk(os.path.join(path, "data"))
        for f in names
        if f.endswith(".parquet")
    )

    # keep_last=2 retains the pre-rewrite (delete) head: its manifest
    # list references the OLD manifests, so shared reachability must
    # keep them on disk and both snapshots must still read correctly
    st = expire_snapshots(path, keep_last=2)
    assert st["expired_snapshots"] == 3  # snaps 1..3
    assert st["deleted_data_files"] == 0
    got = {tuple(r) for r in read_iceberg(spark, path).collect()}
    assert got == pre_rows
    got4 = {tuple(r) for r in read_iceberg(spark, path, snapshot_id=4).collect()}
    assert got4 == pre_rows  # pre-rewrite head reads through OLD manifests

    # now expire to the rewrite head only: the old data manifests (3)
    # and the delete snapshot's manifest list (1) go; the shared delete
    # manifest survives (the replace snapshot carries it verbatim)
    st2 = expire_snapshots(path, keep_last=1)
    assert st2["expired_snapshots"] == 1  # snap 4
    assert st2["deleted_manifests"] == 4  # 3 old data manifests + 1 list
    assert st2["deleted_data_files"] == 0
    got = {tuple(r) for r in read_iceberg(spark, path).collect()}
    assert got == pre_rows

    # zero data-file loss across the whole maintenance sequence
    data_files_after = sorted(
        f
        for root, _, names in os.walk(os.path.join(path, "data"))
        for f in names
        if f.endswith(".parquet")
    )
    assert data_files_after == data_files_before
    # every file the live snapshot references still exists
    for rel in snapshot_iceberg(path).files:
        p = rel if os.path.isabs(rel) else os.path.join(path, rel)
        assert os.path.exists(p), rel

    # expired ids are gone from the metadata: time travel raises
    with pytest.raises(Exception, match="[Ss]napshot"):
        read_iceberg(spark, path, snapshot_id=1).count()
