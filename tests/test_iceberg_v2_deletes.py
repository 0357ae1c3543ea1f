"""Iceberg format-version 2 batch reads with POSITION DELETES.

Fixtures upgrade a v1 table the way an external v2 writer's table
looks on disk: metadata.json says format-version 2, the manifest list
gains ``content`` (0=data, 1=deletes), and a delete manifest lists a
two-column (``file_path``, ``pos``) parquet per the spec. The reader
must subtract exactly those row positions; every v2 MUTATION (append,
compaction, expiry, metadata-only conversion, the stream) must fail
loudly naming the format version.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from pyspark_excel_datasource_spark.sources.iceberg import (
    IcebergFormatError,
    _read_avro,
    _write_avro,
    expire_snapshots,
    read_iceberg,
    rewrite_data_files,
    snapshot_iceberg,
    write_iceberg,
)

SF = "/root/testdata/sf0.001"

_MLIST_V2_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "added_snapshot_id", "type": ["null", "long"], "default": None},
        {"name": "content", "type": "int"},
    ],
}


def _delete_manifest_schema() -> dict:
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": ["null", "long"], "default": None},
            {
                "name": "data_file",
                "type": {
                    "type": "record",
                    "name": "data_file",
                    "fields": [
                        {"name": "content", "type": "int"},
                        {"name": "file_path", "type": "string"},
                        {"name": "file_format", "type": "string"},
                        {"name": "record_count", "type": "long"},
                        {"name": "file_size_in_bytes", "type": "long"},
                    ],
                },
            },
        ],
    }


def _nation(spark):
    return spark.read.parquet(os.path.join(SF, "nation.parquet"))


def _upgrade_with_position_deletes(
    table_path: str, deletes: dict[str, list[int]], content: int = 1
) -> None:
    """Stamp format-version 2 and attach one delete manifest carrying
    one position-delete parquet per target file."""
    meta_dir = os.path.join(table_path, "metadata")
    v = int(open(os.path.join(meta_dir, "version-hint.text")).read().strip())
    md_path = os.path.join(meta_dir, f"v{v}.metadata.json")
    md = json.load(open(md_path))
    md["format-version"] = 2
    snap = next(
        s
        for s in md["snapshots"]
        if s["snapshot-id"] == md["current-snapshot-id"]
    )
    mlist = snap["manifest-list"]
    mlist_abs = mlist if os.path.isabs(mlist) else os.path.join(table_path, mlist)

    # position-delete parquet (spec layout: file_path, pos)
    rows_fp, rows_pos = [], []
    for target, positions in deletes.items():
        rows_fp.extend([target] * len(positions))
        rows_pos.extend(positions)
    del_parquet = os.path.join(table_path, "data", "pos-delete-0.parquet")
    pq.write_table(
        pa.table(
            {
                "file_path": pa.array(rows_fp, pa.string()),
                "pos": pa.array(rows_pos, pa.int64()),
            }
        ),
        del_parquet,
    )

    # delete manifest listing it
    del_manifest = os.path.join(meta_dir, "delete-m0.avro")
    _write_avro(
        del_manifest,
        _delete_manifest_schema(),
        [
            (
                1,  # ADDED
                md["current-snapshot-id"],
                {
                    "content": content,
                    "file_path": os.path.join("data", "pos-delete-0.parquet"),
                    "file_format": "PARQUET",
                    "record_count": len(rows_pos),
                    "file_size_in_bytes": os.path.getsize(del_parquet),
                },
            )
        ],
    )

    # rewrite the manifest list with the v2 content column
    old_entries = _read_avro(mlist_abs)
    rows = [
        (
            m["manifest_path"],
            m["manifest_length"],
            m["partition_spec_id"],
            m["added_snapshot_id"],
            0,
        )
        for m in old_entries
    ]
    rows.append(
        (
            del_manifest,
            os.path.getsize(del_manifest),
            0,
            md["current-snapshot-id"],
            1,
        )
    )
    _write_avro(mlist_abs, _MLIST_V2_SCHEMA, rows)
    json.dump(md, open(md_path, "w"))


def _make_table(spark, tmp_path, name: str) -> tuple[str, str, list]:
    path = str(tmp_path / name)
    n = _nation(spark).orderBy("n_nationkey").coalesce(1)
    write_iceberg(spark, n, path)
    snap = snapshot_iceberg(path)
    (target,) = snap.files
    keys = [r.n_nationkey for r in read_iceberg(spark, path).orderBy("n_nationkey").collect()]
    return path, target, keys


def test_position_deletes_filter_rows(spark, tmp_path):
    path, target, keys = _make_table(spark, tmp_path, "v2_posdel")
    _upgrade_with_position_deletes(path, {target: [0, 2, 5]})
    got = sorted(r.n_nationkey for r in read_iceberg(spark, path).collect())
    want = sorted(k for i, k in enumerate(keys) if i not in (0, 2, 5))
    assert got == want


def test_dangling_delete_target_ignored(spark, tmp_path):
    path, target, keys = _make_table(spark, tmp_path, "v2_dangling")
    _upgrade_with_position_deletes(
        path, {target: [1], "data/no-such-file.parquet": [0, 1]}
    )
    assert read_iceberg(spark, path).count() == len(keys) - 1


def test_absolute_delete_target_normalized(spark, tmp_path):
    path, target, keys = _make_table(spark, tmp_path, "v2_abs")
    abs_target = target if os.path.isabs(target) else os.path.join(
        os.path.abspath(path), target
    )
    _upgrade_with_position_deletes(path, {abs_target: [3]})
    assert read_iceberg(spark, path).count() == len(keys) - 1


def test_equality_deletes_raise(spark, tmp_path):
    path, target, _ = _make_table(spark, tmp_path, "v2_eq")
    _upgrade_with_position_deletes(path, {target: [0]}, content=2)
    with pytest.raises(IcebergFormatError, match="equality"):
        read_iceberg(spark, path).collect()


def test_v2_mutations_raise(spark, tmp_path):
    path, target, _ = _make_table(spark, tmp_path, "v2_guard")
    _upgrade_with_position_deletes(path, {target: [0]})
    n = _nation(spark)
    with pytest.raises(IcebergFormatError, match="format-version 2"):
        write_iceberg(spark, n, path, mode="append")
    with pytest.raises(IcebergFormatError, match="format-version 2"):
        rewrite_data_files(spark, path, target_files=1)
    with pytest.raises(IcebergFormatError, match="format-version 2"):
        expire_snapshots(path, keep_last=1)
    from pyspark_excel_datasource_spark.sources.iceberg import (
        convert_iceberg_to_delta,
    )

    with pytest.raises(IcebergFormatError, match="format-version 2"):
        convert_iceberg_to_delta(spark, path, str(tmp_path / "d"))


def test_v2_stream_raises(spark, tmp_path):
    from pyspark_excel_datasource_spark.sources.iceberg_stream import (
        register_pyiceberg_stream,
    )

    path, target, _ = _make_table(spark, tmp_path, "v2_stream")
    _upgrade_with_position_deletes(path, {target: [0]})
    register_pyiceberg_stream(spark)
    with pytest.raises(Exception, match="format-version 2"):
        spark.readStream.format("pyiceberg_stream").load(path).writeStream.format(
            "noop"
        ).trigger(availableNow=True).start().awaitTermination(60)


def test_v2_partitioned_with_filter(spark, tmp_path):
    path = str(tmp_path / "v2_part")
    n = (
        _nation(spark)
        .withColumn("rk", F.col("n_regionkey").cast("string"))
        .drop("n_regionkey")
        .orderBy("n_nationkey")
        .repartition(1)
        .sortWithinPartitions("n_nationkey")
    )
    write_iceberg(spark, n, path, partition_by=("rk",))
    snap = snapshot_iceberg(path)
    target = next(p for p, pv in snap.files.items() if pv["rk"] == "0")
    before = {
        r.n_nationkey
        for r in read_iceberg(
            spark, path, partition_filter={"rk": {"0"}}
        ).collect()
    }
    _upgrade_with_position_deletes(path, {target: [0]})
    after = {
        r.n_nationkey
        for r in read_iceberg(
            spark, path, partition_filter={"rk": {"0"}}
        ).collect()
    }
    assert len(after) == len(before) - 1
    assert after < before
    # other partitions untouched
    assert (
        read_iceberg(spark, path, partition_filter={"rk": {"1"}}).count()
        == _nation(spark).filter(F.col("n_regionkey") == 1).count()
    )


# ---------------------------------------------------------------------------
# equality deletes (content=2, sequence-number ordered)
# ---------------------------------------------------------------------------

_EQ_MANIFEST_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"], "default": None},
        {"name": "sequence_number", "type": ["null", "long"], "default": None},
        {
            "name": "data_file",
            "type": {
                "type": "record",
                "name": "data_file",
                "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                    {
                        "name": "equality_ids",
                        "type": {"type": "array", "items": "int"},
                    },
                ],
            },
        },
    ],
}

_DATA_MANIFEST_V2_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"], "default": None},
        {"name": "sequence_number", "type": ["null", "long"], "default": None},
        {
            "name": "data_file",
            "type": {
                "type": "record",
                "name": "data_file",
                "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {
                        "name": "partition",
                        "type": {"type": "record", "name": "r102", "fields": []},
                    },
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                ],
            },
        },
    ],
}


def _add_equality_delete(
    table_path: str,
    rows: list[dict],
    equality_ids: list[int],
    seq: int,
    fname: str = "eq-delete-0.parquet",
) -> None:
    """Forge: format-version 2 + one equality-delete manifest at ``seq``
    whose parquet carries ``rows`` (dicts of column -> value)."""
    meta_dir = os.path.join(table_path, "metadata")
    v = int(open(os.path.join(meta_dir, "version-hint.text")).read().strip())
    md_path = os.path.join(meta_dir, f"v{v}.metadata.json")
    md = json.load(open(md_path))
    md["format-version"] = 2
    snap = next(
        s for s in md["snapshots"] if s["snapshot-id"] == md["current-snapshot-id"]
    )
    mlist = snap["manifest-list"]
    mlist_abs = mlist if os.path.isabs(mlist) else os.path.join(table_path, mlist)

    del_parquet = os.path.join(table_path, "data", fname)
    cols = {k: [r.get(k) for r in rows] for k in rows[0]}
    pq.write_table(pa.table(cols), del_parquet)

    del_manifest = os.path.join(meta_dir, f"eq-{fname}.avro")
    _write_avro(
        del_manifest,
        _EQ_MANIFEST_SCHEMA,
        [
            (
                1,
                md["current-snapshot-id"],
                seq,
                {
                    "content": 2,
                    "file_path": os.path.join("data", fname),
                    "file_format": "PARQUET",
                    "record_count": len(rows),
                    "file_size_in_bytes": os.path.getsize(del_parquet),
                    "equality_ids": equality_ids,
                },
            )
        ],
    )
    entries = _read_avro(mlist_abs)
    out_rows = [
        (
            m["manifest_path"],
            m["manifest_length"],
            m["partition_spec_id"],
            m["added_snapshot_id"],
            m.get("content") or 0,
        )
        for m in entries
    ]
    out_rows.append(
        (
            del_manifest,
            os.path.getsize(del_manifest),
            0,
            md["current-snapshot-id"],
            1,
        )
    )
    _write_avro(mlist_abs, _MLIST_V2_SCHEMA, out_rows)
    json.dump(md, open(md_path, "w"))


def _append_data_file_at_seq(
    spark, table_path: str, df, seq: int, fname: str
) -> None:
    """Forge a v2 data manifest at ``seq`` adding one parquet file."""
    meta_dir = os.path.join(table_path, "metadata")
    v = int(open(os.path.join(meta_dir, "version-hint.text")).read().strip())
    md_path = os.path.join(meta_dir, f"v{v}.metadata.json")
    md = json.load(open(md_path))
    snap = next(
        s for s in md["snapshots"] if s["snapshot-id"] == md["current-snapshot-id"]
    )
    mlist = snap["manifest-list"]
    mlist_abs = mlist if os.path.isabs(mlist) else os.path.join(table_path, mlist)

    fpath = os.path.join(table_path, "data", fname)
    tbl = pa.Table.from_pandas(df.toPandas())
    # stamp parquet field ids (positional, like the table's writer) so
    # the field-id-resolving read schema accepts the forged file
    tbl = tbl.cast(
        pa.schema(
            [
                f.with_metadata({b"PARQUET:field_id": str(i + 1).encode()})
                for i, f in enumerate(tbl.schema)
            ]
        )
    )
    pq.write_table(tbl, fpath)
    n = df.count()
    dm = os.path.join(meta_dir, f"dm-{fname}.avro")
    _write_avro(
        dm,
        _DATA_MANIFEST_V2_SCHEMA,
        [
            (
                1,
                md["current-snapshot-id"],
                seq,
                {
                    "content": 0,
                    "file_path": os.path.join("data", fname),
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": n,
                    "file_size_in_bytes": os.path.getsize(fpath),
                },
            )
        ],
    )
    entries = _read_avro(mlist_abs)
    out_rows = [
        (
            m["manifest_path"],
            m["manifest_length"],
            m["partition_spec_id"],
            m["added_snapshot_id"],
            m.get("content") or 0,
        )
        for m in entries
    ]
    out_rows.append(
        (dm, os.path.getsize(dm), 0, md["current-snapshot-id"], 0)
    )
    _write_avro(mlist_abs, _MLIST_V2_SCHEMA, out_rows)


def test_equality_delete_removes_matching_rows(spark, tmp_path):
    path, _target, keys = _make_table(spark, tmp_path, "eq_basic")
    # nation schema ids positional: n_nationkey=1, n_name=2, n_regionkey=3
    victims = [
        r.n_name
        for r in read_iceberg(spark, path).filter(F.col("n_nationkey") < 3).collect()
    ]
    _add_equality_delete(
        path, [{"n_name": v} for v in victims], equality_ids=[2], seq=1
    )
    got = {r.n_name for r in read_iceberg(spark, path).collect()}
    assert got.isdisjoint(set(victims))
    assert len(got) == len(keys) - len(victims)


def test_equality_delete_spares_newer_files(spark, tmp_path):
    """The sequence rule: a delete at seq=1 must NOT touch a data file
    added at seq=2 even when its rows match the delete values."""
    path, _t, keys = _make_table(spark, tmp_path, "eq_seq")
    victim = read_iceberg(spark, path).filter(F.col("n_nationkey") == 0).collect()[0]
    _add_equality_delete(path, [{"n_name": victim.n_name}], [2], seq=1)
    assert read_iceberg(spark, path).count() == len(keys) - 1
    # re-add the same row in a NEWER file (seq 2)
    readd = spark.createDataFrame(
        [(victim.n_nationkey, victim.n_name, victim.n_regionkey)],
        "n_nationkey long, n_name string, n_regionkey long",
    )
    _append_data_file_at_seq(spark, path, readd, seq=2, fname="readd.parquet")
    rows = read_iceberg(spark, path).filter(F.col("n_name") == victim.n_name)
    assert rows.count() == 1  # the old copy is deleted, the new one lives


def test_equality_delete_multi_column_and_nullsafe(spark, tmp_path):
    path = str(tmp_path / "eq_multi")
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", None), (3, None, 10), (4, "b", 20)],
        "k long, s string, v int",
    )
    write_iceberg(spark, df.coalesce(1), path)
    # ids positional: k=1, s=2, v=3; delete (s='a', v=NULL) and (s=NULL, v=10)
    _add_equality_delete(
        path,
        [{"s": "a", "v": None}, {"s": None, "v": 10}],
        equality_ids=[2, 3],
        seq=1,
    )
    got = sorted(r.k for r in read_iceberg(spark, path).collect())
    assert got == [1, 4]  # null-safe equality removed k=2 and k=3


def test_equality_delete_unknown_field_id_raises(spark, tmp_path):
    path, _t, _k = _make_table(spark, tmp_path, "eq_badid")
    _add_equality_delete(path, [{"n_name": "x"}], equality_ids=[99], seq=1)
    with pytest.raises(IcebergFormatError, match="field id"):
        read_iceberg(spark, path).collect()


def test_equality_and_position_deletes_compose(spark, tmp_path):
    path, target, keys = _make_table(spark, tmp_path, "eq_mixed")
    rows = read_iceberg(spark, path).orderBy("n_nationkey").collect()
    _upgrade_with_position_deletes(path, {target: [0]})  # kills rows[0]
    _add_equality_delete(
        path, [{"n_name": rows[1].n_name}], [2], seq=1,
        fname="eq-mixed.parquet",
    )
    got = {r.n_name for r in read_iceberg(spark, path).collect()}
    assert rows[0].n_name not in got and rows[1].n_name not in got
    assert len(got) == len(keys) - 2


# ---------------------------------------------------------------------------
# round 13: bounded broadcasts with shuffle-anti-join fallback
# ---------------------------------------------------------------------------


def test_posdel_shuffle_fallback_over_bound(spark, tmp_path):
    """Past spark.graft.dv.broadcastMaxPositions the positional
    anti-join drops its broadcast hint (shuffle anti-join — safe at any
    delete volume); rows are identical either way."""
    path, target, keys = _make_table(spark, tmp_path, "v2_posdel_bound")
    _upgrade_with_position_deletes(path, {target: [0, 2]})
    exp = sorted(keys[i] for i in range(len(keys)) if i not in (0, 2))
    base_df = read_iceberg(spark, path)
    base_plan = base_df._jdf.queryExecution().optimizedPlan().toString()
    assert [r.n_nationkey for r in base_df.orderBy("n_nationkey").collect()] == exp
    spark.conf.set("spark.graft.dv.broadcastMaxPositions", "0")
    try:
        df = read_iceberg(spark, path)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        # exactly the positions join loses its hint; the O(files)
        # partition-value map join keeps its broadcast
        assert plan.count("strategy=broadcast") == base_plan.count(
            "strategy=broadcast"
        ) - 1
        assert [r.n_nationkey for r in df.orderBy("n_nationkey").collect()] == exp
    finally:
        spark.conf.unset("spark.graft.dv.broadcastMaxPositions")


def test_eqdel_shuffle_fallback_over_bound(spark, tmp_path):
    """The equality-delete anti-join broadcasts only while the
    manifests' record counts bound the key volume (r12 ADVICE: nothing
    bounded the TOTAL); past the bound it becomes a shuffle anti-join
    with identical semantics."""
    path, _target, _keys = _make_table(spark, tmp_path, "v2_eqdel_bound")
    victims = ["ALGERIA", "BRAZIL", "CANADA"]
    _add_equality_delete(
        path, [{"n_name": v} for v in victims], equality_ids=[2], seq=1
    )
    base_df = read_iceberg(spark, path)
    base_plan = base_df._jdf.queryExecution().optimizedPlan().toString()
    exp = sorted(
        r.n_name for r in base_df.collect() if r.n_name not in victims
    )
    assert sorted(r.n_name for r in base_df.collect()) == exp
    spark.conf.set("spark.graft.dv.broadcastMaxPositions", "0")
    try:
        df = read_iceberg(spark, path)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("strategy=broadcast") == base_plan.count(
            "strategy=broadcast"
        ) - 1
        assert sorted(r.n_name for r in df.collect()) == exp
    finally:
        spark.conf.unset("spark.graft.dv.broadcastMaxPositions")


def test_foreign_posdel_describe_reports_unknown_rows(spark, tmp_path):
    """A FOREIGN v2 table's position deletes may carry duplicate or
    dangling pairs, so manifest arithmetic cannot prove an exact live
    row count — DESCRIBE reports num_rows=None (round 13; same honesty
    rule as equality deletes), while a table whose deletes THIS writer
    produced keeps the exact count."""
    from pyspark_excel_datasource_spark.sources.iceberg import (
        delete_where_iceberg,
        describe_detail_iceberg,
    )

    path, target, keys = _make_table(spark, tmp_path, "v2_posdel_describe")
    _upgrade_with_position_deletes(path, {target: [1]})
    assert describe_detail_iceberg(path)["num_rows"] is None

    own = str(tmp_path / "own_posdel_describe")
    write_iceberg(spark, _nation(spark), own)
    delete_where_iceberg(spark, own, "n_regionkey = 0")
    n_live = read_iceberg(spark, own).count()
    assert describe_detail_iceberg(own)["num_rows"] == n_live
