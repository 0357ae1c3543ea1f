"""Regression tests for catalog.table() — the testdata loader.

The driver has regenerated ``events.parquet`` with different physical types
for ``ts`` across rounds (TIMESTAMP(NANOS) int64 → TIMESTAMP(MICROS)).
``table()`` must normalise both to ``timestamp_ntz`` so every events-side
query keeps working when the testdata migrates again.
"""

from __future__ import annotations

import pytest

from pyspark_excel_datasource_spark.catalog import SMOKE_SF_DIR, TABLES, table


def test_events_ts_is_timestamp_ntz(spark):
    ev = table(spark, SMOKE_SF_DIR, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp_ntz"
    # And the column is actually usable in arithmetic / window exprs.
    n = ev.selectExpr("date_trunc('hour', ts) AS h").where("h IS NOT NULL").count()
    assert n > 0


def test_events_ts_matches_duckdb_epoch(spark):
    """Values (not just the type) agree with DuckDB's view of the file."""
    duckdb = pytest.importorskip("duckdb")
    ev = table(spark, SMOKE_SF_DIR, "events")
    # Session tz is pinned UTC (session.py), so NTZ→TIMESTAMP is a no-op shift.
    got = ev.selectExpr(
        "min(unix_micros(CAST(ts AS TIMESTAMP))) AS lo",
        "max(unix_micros(CAST(ts AS TIMESTAMP))) AS hi",
    ).first()
    want = duckdb.sql(
        "SELECT epoch_us(min(ts)) AS lo, epoch_us(max(ts)) AS hi "
        f"FROM read_parquet('{SMOKE_SF_DIR}/events.parquet')"
    ).fetchone()
    assert (got.lo, got.hi) == want


def test_nanos_int64_ts_still_rebuilt(spark, tmp_path):
    """The legacy nanos-as-int64 path (older testdata generation) still works."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    micros = 1_700_000_000_123_456
    tbl = pa.table(
        {
            "event_id": pa.array([1], pa.int64()),
            "ts": pa.array([micros * 1000], pa.timestamp("ns")),
        }
    )
    d = tmp_path / "sfnano"
    d.mkdir()
    pq.write_table(tbl, d / "events.parquet")
    ev = table(spark, str(d), "events")
    assert dict(ev.dtypes)["ts"] == "timestamp_ntz"
    assert ev.selectExpr("unix_micros(CAST(ts AS TIMESTAMP)) AS us").first().us == micros


def test_all_tables_load(spark):
    for name in TABLES:
        df = table(spark, SMOKE_SF_DIR, name)
        assert len(df.columns) > 0


def test_estimate_scan_parts_splits_large_files(spark, tmp_path):
    """VERDICT r14 #5: one large splittable parquet file plans MULTIPLE
    scan partitions (Spark chops it at maxPartitionBytes), so the
    spread() estimator must not cap its estimate at the file COUNT —
    the r14 cap made spread() fire a redundant round-robin shuffle on
    an already-parallel scan. The file here has many ROW GROUPS, so the
    byte-based split estimate is also the effective parallelism."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark_excel_datasource_spark.catalog import _estimate_scan_parts

    # ~2 MB single parquet file (incompressible payload), 8 row groups
    random.seed(7)
    payload = ["".join(chr(random.randint(33, 126)) for _ in range(200))
               for _ in range(10_000)]
    tbl = pa.table({"id": pa.array(range(10_000), pa.int64()),
                    "payload": pa.array(payload, pa.string())})
    d = tmp_path / "big.parquet"
    d.mkdir()
    pq.write_table(tbl, d / "part-0.parquet", row_group_size=1250,
                   compression="none")
    assert pq.ParquetFile(d / "part-0.parquet").metadata.num_row_groups == 8
    files = [f for f in spark.read.parquet(str(d)).inputFiles()
             if f.endswith(".parquet")]
    assert len(files) == 1
    old_pb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    old_oc = spark.conf.get("spark.sql.files.openCostInBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(256 * 1024))
        spark.conf.set("spark.sql.files.openCostInBytes", str(16 * 1024))
        est = _estimate_scan_parts(spark, files, target=64)
        actual = spark.read.parquet(str(d)).rdd.getNumPartitions()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_pb)
        spark.conf.set("spark.sql.files.openCostInBytes", old_oc)
    # the r14 len(files) cap would return 1 here
    assert est is not None and est > 1, est
    # byte-estimate ~9 splits, row-group bound 8; Spark plans ~9 — within 2
    assert abs(est - actual) <= 2, (est, actual)


def test_estimate_scan_parts_single_row_group_bound(spark, tmp_path):
    """A file whose BYTES span several maxPartitionBytes splits but that
    holds ONE row group scans on one core (a planned split only produces
    rows when a row group starts inside it) — the estimator must report
    effective parallelism 1 so spread() still fires on it."""
    import random

    from pyspark_excel_datasource_spark.catalog import _estimate_scan_parts

    random.seed(7)
    rows = [(i, "".join(chr(random.randint(33, 126)) for _ in range(200)))
            for i in range(10_000)]
    p = str(tmp_path / "onegroup.parquet")
    spark.createDataFrame(rows, "id long, payload string").coalesce(
        1
    ).write.parquet(p)
    files = [f for f in spark.read.parquet(p).inputFiles()]
    assert len(files) == 1
    old_pb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(256 * 1024))
        est = _estimate_scan_parts(spark, files, target=64)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_pb)
    assert est == 1, est


def test_estimate_scan_parts_many_tiny_files(spark, tmp_path):
    """Many tiny files: the conf-derived files-per-split shortcut and the
    byte-charged estimate both stay close to Spark's actual packing."""
    from pyspark_excel_datasource_spark.catalog import _estimate_scan_parts

    p = str(tmp_path / "tiny.parquet")
    spark.range(100).repartition(40).write.parquet(p)
    files = spark.read.parquet(p).inputFiles()
    assert len(files) == 40
    est = _estimate_scan_parts(spark, files, target=8)
    actual = spark.read.parquet(p).rdd.getNumPartitions()
    assert est is not None
    # 40 files at 4 MB openCost each pack ~32/128MB-split => 2 splits
    assert abs(est - actual) <= 1, (est, actual)


def test_estimate_scan_parts_reads_each_footer_once(spark, tmp_path, monkeypatch):
    """spread() re-estimates on every call; the parquet row-group counts
    are memoized per file, so a repeat estimate opens no footer."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark_excel_datasource_spark.catalog import _estimate_scan_parts

    files = []
    for i in range(3):
        f = str(tmp_path / f"part-{i}.parquet")
        pq.write_table(pa.table({"id": pa.array(range(1000), pa.int64())}), f,
                       row_group_size=250)
        files.append(f)
    old_oc = spark.conf.get("spark.sql.files.openCostInBytes")
    opened = []
    real = pq.ParquetFile

    def counting(path, *a, **kw):
        opened.append(path)
        return real(path, *a, **kw)

    monkeypatch.setattr(pq, "ParquetFile", counting)
    try:
        spark.conf.set("spark.sql.files.openCostInBytes", "1024")
        first = _estimate_scan_parts(spark, files, target=64)
        n_first = len(opened)
        second = _estimate_scan_parts(spark, files, target=64)
    finally:
        spark.conf.set("spark.sql.files.openCostInBytes", old_oc)
    assert n_first == 3, opened
    assert len(opened) == 3 and first == second


def test_local_df_keeps_null_in_bigint_column(spark):
    """A None in a bigint column stays NULL and the column's other values
    stay exact (an inferred pandas dtype makes it float64, which rounds)."""
    from pyspark_excel_datasource_spark.catalog import local_df

    big = 2**62 + 1
    df = local_df(spark, [(1, None, "x"), (None, big, None)], "a bigint, b bigint, c string")
    assert dict(df.dtypes) == {"a": "bigint", "b": "bigint", "c": "string"}
    assert [tuple(r) for r in df.collect()] == [(1, None, "x"), (None, big, None)]
