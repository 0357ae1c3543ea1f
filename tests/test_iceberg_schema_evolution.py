"""Iceberg schema evolution by FIELD-ID remapping (rename_column).

The writer stamps ``parquet.field.id`` into every data-file footer (the
spec requires ids in files; Spark's fieldId write path provides them),
so a metadata-only RENAME — new schema-id, same field ids, no snapshot,
no data movement — reads correctly in both directions: the latest state
resolves OLD files through the new name by id, and time travel to
pre-rename snapshots still shows the old name via the snapshot's own
schema-id.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from pyspark_excel_datasource_spark.sources.iceberg import (
    IcebergFormatError,
    read_iceberg,
    rename_column_iceberg,
    write_iceberg,
)

SF = "/root/testdata/sf0.001"


def _nation(spark):
    return spark.read.parquet(os.path.join(SF, "nation.parquet"))


def test_rename_is_metadata_only_and_reads_old_files(spark, tmp_path):
    path = str(tmp_path / "t")
    n = _nation(spark)
    write_iceberg(spark, n, path)
    files_before = set(read_iceberg(spark, path).inputFiles())
    rename_column_iceberg(path, "n_name", "nation_name")
    head = read_iceberg(spark, path)
    assert "nation_name" in head.columns and "n_name" not in head.columns
    # values come out of the OLD files untouched, resolved by field id
    got = {(r.n_nationkey, r.nation_name) for r in head.collect()}
    want = {(r.n_nationkey, r.n_name) for r in n.collect()}
    assert got == want
    assert set(head.inputFiles()) == files_before  # no rewrite happened


def test_time_travel_shows_pre_rename_name(spark, tmp_path):
    path = str(tmp_path / "t")
    write_iceberg(spark, _nation(spark), path)
    rename_column_iceberg(path, "n_name", "remark")
    old = read_iceberg(spark, path, snapshot_id=1)
    assert "n_name" in old.columns and "remark" not in old.columns
    assert "remark" in read_iceberg(spark, path).columns


def test_append_after_rename_mixes_old_and_new_files(spark, tmp_path):
    path = str(tmp_path / "t")
    n = _nation(spark)
    write_iceberg(spark, n, path)
    rename_column_iceberg(path, "n_name", "nation_name")
    extra = n.withColumnRenamed("n_name", "nation_name").withColumn(
        "n_nationkey", F.col("n_nationkey") + 1000
    )
    write_iceberg(spark, extra, path, mode="append")
    back = read_iceberg(spark, path)
    assert back.count() == 2 * n.count()
    # both generations of files produce the same column correctly
    assert back.filter(F.col("nation_name").isNull()).count() == 0


def test_rename_guards(spark, tmp_path):
    path = str(tmp_path / "t")
    n = _nation(spark)
    write_iceberg(spark, n, path, partition_by=("n_regionkey",))
    with pytest.raises(ValueError, match="not in schema"):
        rename_column_iceberg(path, "nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        rename_column_iceberg(path, "n_name", "n_nationkey")
    with pytest.raises(IcebergFormatError, match="partition column"):
        rename_column_iceberg(path, "n_regionkey", "rk")


def test_rename_requires_field_id_property(spark, tmp_path):
    path = str(tmp_path / "t")
    write_iceberg(spark, _nation(spark), path)
    meta = os.path.join(path, "metadata", "v1.metadata.json")
    md = json.load(open(meta))
    md.pop("properties", None)  # simulate a pre-field-id table
    json.dump(md, open(meta, "w"))
    with pytest.raises(IcebergFormatError, match="field-id"):
        rename_column_iceberg(path, "n_name", "x")
    # and such a table still READS by name, exactly as before
    assert read_iceberg(spark, path).count() == _nation(spark).count()


def test_result_schema_stays_plain(spark, tmp_path):
    """The parquet.field.id metadata is a scan-time detail — result
    schemas must compare equal to plain ones."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a")], "id long, s string")
    write_iceberg(spark, df, path)
    back = read_iceberg(spark, path)
    assert back.schema == df.schema


def test_required_fields_enforced_on_append(spark, tmp_path):
    """The spec's `required` fields are a WRITER duty: an append whose
    rows carry nulls in a required column is rejected BEFORE any data
    file lands (no orphans under data/)."""
    path = str(tmp_path / "req")
    df = spark.createDataFrame([(1, "a")], "k long, s string")
    # non-nullable k: build via schema with nullable=False
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    strict = StructType(
        [
            StructField("k", LongType(), False),
            StructField("s", StringType(), True),
        ]
    )
    df = spark.createDataFrame([(1, "a")], strict)
    write_iceberg(spark, df, path)
    data_files_before = sorted(os.listdir(os.path.join(path, "data")))
    bad = spark.createDataFrame([(None, "b")], "k long, s string")
    with pytest.raises(ValueError, match="required"):
        write_iceberg(spark, bad.select(F.col("k").cast("long"), "s"), path, mode="append")
    # nothing landed
    assert sorted(os.listdir(os.path.join(path, "data"))) == data_files_before


def test_append_schema_mismatch_leaves_no_orphans(spark, tmp_path):
    """The hoisted validation: a schema-mismatched append fails before
    the staging write, so data/ is untouched."""
    path = str(tmp_path / "orphan")
    write_iceberg(spark, _nation(spark), path)
    before = sorted(os.listdir(os.path.join(path, "data")))
    wrong = _nation(spark).withColumnRenamed("n_name", "zzz")
    with pytest.raises(ValueError, match="append schema"):
        write_iceberg(spark, wrong, path, mode="append")
    assert sorted(os.listdir(os.path.join(path, "data"))) == before
