"""Column-mapping read support for the Delta reader (PROTOCOL.md
"Column Mapping"): tables whose parquet files store PHYSICAL column
names (``delta.columnMapping.physicalName``) and whose per-file
``partitionValues`` are keyed by physical name. Batch reads bind the
physical names and alias back to logical; everything that would WRITE
logical names into a mapped table (DML, appends, CDF, the stream
source) fails loudly.

Fixtures are hand-forged logs + pyarrow-written parquet — exactly what
an external Delta writer (delta-spark with mapping enabled, or a table
after ALTER COLUMN RENAME) produces.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark_excel_datasource_spark.sources.deltalog import (
    DeltaProtocolError,
    delete_where,
    merge_delta,
    optimize,
    read_change_feed,
    read_delta,
    write_delta,
)


def _field(name: str, typ, phys: str, fid: int) -> dict:
    return {
        "name": name,
        "type": typ,
        "nullable": True,
        "metadata": {
            "delta.columnMapping.id": fid,
            "delta.columnMapping.physicalName": phys,
        },
    }


def _mapped_table(
    root,
    mode: str = "name",
    reader: int = 2,
    features: list[str] | None = None,
) -> str:
    """2-partition mapped table: logical (k long, v string, p string
    partition), physical names col-k1/col-v2/col-p3."""
    path = str(root / f"mapped_{mode}_{reader}_{'-'.join(features or [])}")
    os.makedirs(os.path.join(path, "_delta_log"))
    parts = [("a", [(1, "x"), (2, "y")]), ("b", [(3, "z")])]
    for i, (_, rows) in enumerate(parts):
        t = pa.table(
            {
                "col-k1": pa.array([r[0] for r in rows], pa.int64()),
                "col-v2": pa.array([r[1] for r in rows], pa.string()),
            }
        )
        pq.write_table(t, os.path.join(path, f"part-{i}.parquet"))
    schema = {
        "type": "struct",
        "fields": [
            _field("k", "long", "col-k1", 1),
            _field("v", "string", "col-v2", 2),
            _field("p", "string", "col-p3", 3),
        ],
    }
    protocol: dict = {"minReaderVersion": reader, "minWriterVersion": 5}
    if features is not None:
        protocol["minReaderVersion"] = 3
        protocol["minWriterVersion"] = 7
        protocol["readerFeatures"] = features
        protocol["writerFeatures"] = ["columnMapping"]
    meta = {
        "id": "mapped-fixture",
        "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps(schema),
        "partitionColumns": ["p"],
        "configuration": {
            "delta.columnMapping.mode": mode,
            "delta.columnMapping.maxColumnId": "3",
        },
    }
    actions = [{"protocol": protocol}, {"metaData": meta}]
    for i, (pval, _) in enumerate(parts):
        actions.append(
            {
                "add": {
                    "path": f"part-{i}.parquet",
                    "partitionValues": {"col-p3": pval},
                    "size": 1,
                    "modificationTime": 0,
                    "dataChange": True,
                }
            }
        )
    with open(os.path.join(path, "_delta_log", f"{0:020d}.json"), "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")
    return path


def test_mapped_read_binds_logical_names(spark, tmp_path):
    path = _mapped_table(tmp_path)
    df = read_delta(spark, path)
    assert df.columns == ["k", "v", "p"]
    rows = {(r.k, r.v, r.p) for r in df.collect()}
    assert rows == {(1, "x", "a"), (2, "y", "a"), (3, "z", "b")}


def test_mapped_partition_filter_uses_logical_key(spark, tmp_path):
    path = _mapped_table(tmp_path)
    df = read_delta(spark, path, partition_filter={"p": {"b"}})
    assert {(r.k, r.v, r.p) for r in df.collect()} == {(3, "z", "b")}


def test_id_mode_reads_via_physical_names(spark, tmp_path):
    path = _mapped_table(tmp_path, mode="id")
    rows = {(r.k, r.v, r.p) for r in read_delta(spark, path).collect()}
    assert rows == {(1, "x", "a"), (2, "y", "a"), (3, "z", "b")}


def test_reader_v3_with_column_mapping_feature(spark, tmp_path):
    path = _mapped_table(tmp_path, features=["columnMapping"])
    assert read_delta(spark, path).count() == 3


def test_unsupported_reader_feature_raises(spark, tmp_path):
    path = _mapped_table(tmp_path, features=["v2Checkpoint"])
    with pytest.raises(DeltaProtocolError, match="v2Checkpoint"):
        read_delta(spark, path)


def test_rename_time_travel_binds_per_version_mapping(spark, tmp_path):
    """ALTER COLUMN RENAME = a new metaData with a new logical name over
    the SAME physicalName. Reading v0 shows the old name, latest shows
    the new one, and both see the same bytes — the feature mapping
    exists for."""
    path = _mapped_table(tmp_path)
    schema_v1 = {
        "type": "struct",
        "fields": [
            _field("k", "long", "col-k1", 1),
            _field("val_renamed", "string", "col-v2", 2),
            _field("p", "string", "col-p3", 3),
        ],
    }
    meta = {
        "id": "mapped-fixture",
        "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps(schema_v1),
        "partitionColumns": ["p"],
        "configuration": {
            "delta.columnMapping.mode": "name",
            "delta.columnMapping.maxColumnId": "3",
        },
    }
    with open(os.path.join(path, "_delta_log", f"{1:020d}.json"), "w") as fh:
        fh.write(json.dumps({"metaData": meta}) + "\n")

    v0 = read_delta(spark, path, version=0)
    v1 = read_delta(spark, path)
    assert v0.columns == ["k", "v", "p"]
    assert v1.columns == ["k", "val_renamed", "p"]
    assert {tuple(r) for r in v0.collect()} == {tuple(r) for r in v1.collect()}


def test_writes_and_dml_on_mapped_table_raise(spark, tmp_path):
    path = _mapped_table(tmp_path)
    df = spark.createDataFrame([(9, "q", "c")], "k long, v string, p string")
    with pytest.raises(DeltaProtocolError, match="column-mapped"):
        write_delta(spark, df, path, mode="append", partition_by=("p",))
    with pytest.raises(DeltaProtocolError, match="column-mapped"):
        merge_delta(spark, df, path, on=["k"])
    with pytest.raises(DeltaProtocolError, match="column-mapped"):
        delete_where(spark, path, "k = 1")
    with pytest.raises(DeltaProtocolError, match="column-mapped"):
        optimize(spark, path)
    with pytest.raises(DeltaProtocolError, match="column-mapped"):
        read_change_feed(spark, path, 0, 0)


def test_stream_on_mapped_table_raises(spark, tmp_path):
    from pyspark_excel_datasource_spark.sources.delta_stream import (
        register_pydelta,
    )

    path = _mapped_table(tmp_path)
    register_pydelta(spark)
    with pytest.raises(Exception, match="column-mapped"):
        # the reader guard fires at source init (plan time)
        spark.readStream.format("pydelta").load(path).writeStream.format(
            "noop"
        ).trigger(availableNow=True).start().awaitTermination(60)


def test_nested_mapping_raises(spark, tmp_path):
    path = _mapped_table(tmp_path)
    nested = {
        "type": "struct",
        "fields": [
            _field("k", "long", "col-k1", 1),
            {
                "name": "s",
                "type": {
                    "type": "struct",
                    "fields": [_field("inner", "string", "col-i9", 9)],
                },
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": 4,
                    "delta.columnMapping.physicalName": "col-s4",
                },
            },
            _field("p", "string", "col-p3", 3),
        ],
    }
    meta = {
        "id": "mapped-fixture",
        "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps(nested),
        "partitionColumns": ["p"],
        "configuration": {"delta.columnMapping.mode": "name"},
    }
    with open(os.path.join(path, "_delta_log", f"{1:020d}.json"), "w") as fh:
        fh.write(json.dumps({"metaData": meta}) + "\n")
    with pytest.raises(DeltaProtocolError, match="nested"):
        read_delta(spark, path)


def test_unmapped_tables_unaffected(spark, tmp_path):
    """mode=none tables keep the exact prior behavior end to end."""
    out = str(tmp_path / "plain")
    df = spark.createDataFrame([(1, "x", "a"), (2, "y", "b")], "k long, v string, p string")
    write_delta(spark, df, out, partition_by=("p",))
    got = read_delta(spark, out, partition_filter={"p": {"b"}})
    assert {(r.k, r.v, r.p) for r in got.collect()} == {(2, "y", "b")}


def test_mapped_table_with_deletion_vector(spark, tmp_path):
    """Real v3 tables often enable column mapping AND deletion vectors
    together; the read path must compose them: physical-name binding for
    the scan, positional anti-join for the DV, logical names out."""
    import struct

    from pyspark_excel_datasource_spark.sources.dvbitmap import (
        DV_MAGIC,
        z85_encode,
    )

    path = _mapped_table(
        tmp_path, features=["columnMapping", "deletionVectors"]
    )
    # inline DV deleting row 0 of part-0.parquet (k=1)
    blob = (
        struct.pack("<i", DV_MAGIC)
        + struct.pack("<q", 1)
        + struct.pack("<i", 12346)
        + struct.pack("<i", 1)
        + struct.pack("<HH", 0, 0)
        + struct.pack("<I", 16)
        + struct.pack("<H", 0)
    )
    desc = {
        "storageType": "i",
        "pathOrInlineDv": z85_encode(blob + b"\x00" * (-len(blob) % 4)),
        "sizeInBytes": len(blob),
        "cardinality": 1,
    }
    with open(os.path.join(path, "_delta_log", f"{1:020d}.json"), "w") as fh:
        fh.write(
            json.dumps(
                {
                    "add": {
                        "path": "part-0.parquet",
                        "partitionValues": {"col-p3": "a"},
                        "size": 1,
                        "modificationTime": 0,
                        "dataChange": True,
                        "deletionVector": desc,
                    }
                }
            )
            + "\n"
        )
    rows = {(r.k, r.v, r.p) for r in read_delta(spark, path).collect()}
    assert rows == {(2, "y", "a"), (3, "z", "b")}
