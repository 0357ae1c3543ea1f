"""Delta writer duties: CHECK constraints, NOT NULL invariants,
generated-column gate, writer-version gate.

The protocol makes these the WRITER's job (reader behavior is
unchanged): delta.constraints.* expressions must be TRUE for every
written row (writer version 3), non-nullable schema fields must not
receive nulls (writer version 2), and a writer that cannot compute
delta.generationExpression must refuse to write at all.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from pyspark_excel_datasource_spark.sources.deltalog import (
    DeltaConstraintViolationError,
    DeltaProtocolError,
    add_check_constraint,
    drop_check_constraint,
    merge_delta,
    read_delta,
    snapshot,
    write_delta,
)


def _mk(spark, tmp_path, name="t"):
    path = str(tmp_path / name)
    df = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b")], "k long, v double, s string"
    )
    write_delta(spark, df, path)
    return path


def test_add_constraint_then_appends_enforced(spark, tmp_path):
    path = _mk(spark, tmp_path)
    v = add_check_constraint(spark, path, "v_positive", "v > 0")
    assert v == 1
    ok = spark.createDataFrame([(3, 5.0, "c")], "k long, v double, s string")
    write_delta(spark, ok, path, mode="append")
    bad = spark.createDataFrame([(4, -1.0, "d")], "k long, v double, s string")
    with pytest.raises(DeltaConstraintViolationError, match="v_positive"):
        write_delta(spark, bad, path, mode="append")
    # the failed write left no partial state
    assert read_delta(spark, path).count() == 3


def test_null_check_result_violates(spark, tmp_path):
    """Strict semantics: an expression evaluating to NULL is a
    violation, matching Delta's invariant checker."""
    path = _mk(spark, tmp_path)
    add_check_constraint(spark, path, "v_pos", "v > 0")
    nullv = spark.createDataFrame([(5, None, "e")], "k long, v double, s string")
    with pytest.raises(DeltaConstraintViolationError, match="v_pos"):
        write_delta(spark, nullv, path, mode="append")


def test_add_constraint_validates_existing_rows(spark, tmp_path):
    path = _mk(spark, tmp_path)
    with pytest.raises(DeltaConstraintViolationError, match="existing rows"):
        add_check_constraint(spark, path, "big", "v > 15")
    # nothing was committed
    assert "delta.constraints.big" not in (
        snapshot(path).metadata.get("configuration") or {}
    )


def test_constraint_survives_overwrite_and_merge(spark, tmp_path):
    path = _mk(spark, tmp_path)
    add_check_constraint(spark, path, "v_positive", "v > 0")
    ow = spark.createDataFrame([(9, 1.0, "z")], "k long, v double, s string")
    write_delta(spark, ow, path, mode="overwrite")
    conf = snapshot(path).metadata.get("configuration") or {}
    assert conf.get("delta.constraints.v_positive") == "v > 0"
    bad_src = spark.createDataFrame(
        [(9, -3.0, "z")], "k long, v double, s string"
    )
    with pytest.raises(DeltaConstraintViolationError, match="v_positive"):
        merge_delta(spark, bad_src, path, on=["k"])


def test_drop_constraint_reopens_writes(spark, tmp_path):
    path = _mk(spark, tmp_path)
    add_check_constraint(spark, path, "v_positive", "v > 0")
    drop_check_constraint(path, "v_positive")
    bad = spark.createDataFrame([(4, -1.0, "d")], "k long, v double, s string")
    write_delta(spark, bad, path, mode="append")
    assert read_delta(spark, path).count() == 3
    with pytest.raises(ValueError, match="no such constraint"):
        drop_check_constraint(path, "v_positive")


def test_not_null_invariant_enforced(spark, tmp_path):
    """A non-nullable field in the TABLE schema rejects null writes even
    when the incoming frame claims nullability."""
    path = str(tmp_path / "nn")
    df = spark.createDataFrame([(1, "a")], "k long, s string")
    write_delta(spark, df, path)
    # tighten the schema on disk: s becomes required
    log = os.path.join(path, "_delta_log", f"{0:020d}.json")
    lines = [json.loads(x) for x in open(log) if x.strip()]
    for act in lines:
        if "metaData" in act:
            sch = json.loads(act["metaData"]["schemaString"])
            for f in sch["fields"]:
                if f["name"] == "s":
                    f["nullable"] = False
            act["metaData"]["schemaString"] = json.dumps(sch)
    with open(log, "w") as fh:
        for act in lines:
            fh.write(json.dumps(act) + "\n")
    bad = spark.createDataFrame([(2, None)], "k long, s string")
    with pytest.raises(DeltaConstraintViolationError, match="NOT NULL column s"):
        write_delta(spark, bad, path, mode="append")
    ok = spark.createDataFrame([(2, "b")], "k long, s string")
    write_delta(spark, ok, path, mode="append")
    assert read_delta(spark, path).count() == 2


def test_generated_columns_computed_and_enforced(spark, tmp_path):
    """Round 11: generated columns became a real writer duty — the
    writer COMPUTES missing delta.generationExpression values and
    VALIDATES supplied ones row-wise on every write path."""
    from pyspark.sql import functions as F

    from pyspark_excel_datasource_spark.sources.deltalog import (
        _generated_columns,
        snapshot,
        update_where,
    )

    path = str(tmp_path / "gen")
    df = spark.createDataFrame([(1, 10.0), (2, 25.0)], "k long, v double")
    write_delta(spark, df, path, generated={"v2x": "v * 2"})
    got = read_delta(spark, path)
    assert {(r.k, r.v2x) for r in got.collect()} == {(1, 20.0), (2, 50.0)}
    snap = snapshot(path)
    assert _generated_columns(snap.metadata) == {"v2x": "v * 2"}
    assert "generatedColumns" in (snap.protocol.get("writerFeatures") or [])
    # appends inherit the expression and compute the missing column
    write_delta(
        spark,
        spark.createDataFrame([(3, 1.5)], "k long, v double"),
        path,
        mode="append",
    )
    assert read_delta(spark, path).filter("v2x <> v * 2").count() == 0
    # a supplied value that contradicts the expression aborts
    bad = spark.createDataFrame([(4, 1.0, 99.0)], "k long, v double, v2x double")
    with pytest.raises(DeltaConstraintViolationError, match="generated column"):
        write_delta(spark, bad, path, mode="append")
    # an UPDATE that breaks the source without recomputing aborts too
    with pytest.raises(DeltaConstraintViolationError, match="generated column"):
        update_where(spark, path, "k = 1", {"v": "v + 1"})
    # ...and succeeds when it keeps the pair consistent
    update_where(spark, path, "k = 1", {"v": "v + 1", "v2x": "(v + 1) * 2"})
    assert read_delta(spark, path).filter("v2x <> v * 2").count() == 0
    # generated= on append is a usage error (the table's spec wins)
    with pytest.raises(ValueError, match="creation/overwrite"):
        write_delta(spark, df, path, mode="append", generated={"v2x": "v"})


def test_writer_version_gate(spark, tmp_path):
    path = _mk(spark, tmp_path)
    log = os.path.join(path, "_delta_log", f"{1:020d}.json")
    with open(log, "w") as fh:
        fh.write(
            json.dumps(
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 4}}
            )
            + "\n"
        )
    df = spark.createDataFrame([(3, 1.0, "c")], "k long, v double, s string")
    with pytest.raises(DeltaProtocolError, match="writer version 4"):
        write_delta(spark, df, path, mode="append")
    # reads still fine
    assert read_delta(spark, path).count() == 2


def test_constraint_protocol_bump_and_checkpoint(spark, tmp_path):
    """ADD CONSTRAINT raises minWriterVersion to 3, and the bump
    survives checkpoint replay."""
    path = _mk(spark, tmp_path)
    add_check_constraint(spark, path, "v_positive", "v > 0")
    assert snapshot(path).protocol["minWriterVersion"] == 3
    ok = spark.createDataFrame([(7, 1.0, "q")], "k long, v double, s string")
    # enough commits to cross the checkpoint interval
    write_delta(spark, ok, path, mode="append")
    write_delta(
        spark,
        ok.withColumn("k", F.col("k") + 1),
        path,
        mode="append",
    )
    log = os.path.join(path, "_delta_log")
    ckpts = [f for f in os.listdir(log) if f.endswith(".checkpoint.parquet")]
    assert ckpts, "expected a checkpoint to exist for this test"
    # drop pre-checkpoint json commits; protocol must come from the
    # checkpoint and still gate + carry the constraint
    snap = snapshot(path)
    assert snap.protocol["minWriterVersion"] == 3
    assert "delta.constraints.v_positive" in snap.metadata["configuration"]
