"""Connector-level queries (SURVEY.md §2.3 scans/sources/sinks).

DuckDB has no xlsx reader, so correctness is checked with *bridge
fixtures*: the same rows materialized twice — as .xlsx (read through our
connector) and as the original parquet (read by the oracle). Fixture files
live under ``.fixtures/`` in the repo (gitignored) and are derived
deterministically from the testdata parquet, so Spark-vs-oracle comparison
is exact.

Reference parity: q_scan_excel ↔ R1-R6, q_scan_multifile ↔ R2 directory
scans, q_sink_excel ↔ R9 write+readback (reference roundtrip test,
tests/test_excel_connector.py:189-216), q_stream_discover ↔ R7/R8.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import query
from . import minixlsx
from .excel import register_excel

#: Root of every derived fixture: ``.fixtures/`` beside the package, in the
#: checkout. Read at call time, so a caller may point it elsewhere
#: (perfbench gives each run its own).
_FIXTURE_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".fixtures",
)


def _fixture_dir(sf_dir: str) -> str:
    from ..catalog import sf_tag

    d = os.path.join(_FIXTURE_ROOT, sf_tag(sf_dir))
    os.makedirs(d, exist_ok=True)
    return d


def _materialize_nation_xlsx(sf_dir: str) -> str:
    """nation.parquet → nation.xlsx (single file), idempotent."""
    out = os.path.join(_fixture_dir(sf_dir), "nation.xlsx")
    if not os.path.exists(out):
        frame = pq.read_table(os.path.join(sf_dir, "nation.parquet")).to_pandas()
        minixlsx.write_xlsx(out, frame)
    return out


def _materialize_region_dir(sf_dir: str) -> str:
    """region.parquet → one xlsx per region row-group-ish split (5 files)."""
    out_dir = os.path.join(_fixture_dir(sf_dir), "region_multi")
    done = os.path.join(out_dir, "_done")
    if not os.path.exists(done):
        os.makedirs(out_dir, exist_ok=True)
        frame = pq.read_table(os.path.join(sf_dir, "region.parquet")).to_pandas()
        for key, part in frame.groupby("r_regionkey"):
            minixlsx.write_xlsx(
                os.path.join(out_dir, f"region-{key}.xlsx"), part.reset_index(drop=True)
            )
        open(done, "w").close()
    return out_dir


@query(
    "q_scan_excel",
    oracle="""
    SELECT CAST(n_nationkey AS BIGINT) AS nationkey,
           n_name AS nation_name,
           CAST(n_regionkey AS BIGINT) AS regionkey
    FROM nation
    """,
)
def q_scan_excel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-file Excel scan with schema inference (reference R1/R3/R6).

    Inference maps integer columns to LongType (fixing reference quirk Q2,
    connector.py:33-34), hence the BIGINT casts in the oracle.
    """
    register_excel(spark)
    path = _materialize_nation_xlsx(sf_dir)
    return (
        spark.read.format("excel")
        .option("path", path)
        .load()
        .select(
            F.col("n_nationkey").alias("nationkey"),
            F.col("n_name").alias("nation_name"),
            F.col("n_regionkey").alias("regionkey"),
        )
    )


@query(
    "q_scan_multifile",
    oracle="""
    SELECT CAST(r_regionkey AS BIGINT) AS regionkey, r_name AS region_name
    FROM region
    """,
)
def q_scan_multifile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directory scan: one partition per file, rows = union of all files
    (reference R2, connector.py:148-156)."""
    register_excel(spark)
    d = _materialize_region_dir(sf_dir)
    return (
        spark.read.format("excel")
        .option("path", d)
        .load()
        .select(
            F.col("r_regionkey").alias("regionkey"),
            F.col("r_name").alias("region_name"),
        )
    )


@query(
    "q_sink_excel",
    oracle="""
    SELECT s_suppkey, s_name, s_acctbal
    FROM supplier
    WHERE s_suppkey < 40
    """,
)
def q_sink_excel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink roundtrip: DataFrame → staged multi-partition Excel write →
    read back (reference R9 + roundtrip test tests:189-216; unlike the
    reference, partitions stage separately and commit merges — no
    last-partition-wins corruption)."""
    register_excel(spark)
    out = os.path.join(_fixture_dir(sf_dir), "supplier_roundtrip.xlsx")
    src = (
        spark.read.parquet(os.path.join(sf_dir, "supplier.parquet"))
        .filter(F.col("s_suppkey") < 40)
        .select("s_suppkey", "s_name", "s_acctbal")
    )
    (
        src.repartition(3)
        .write.format("excel")
        .option("path", out)
        .mode("overwrite")
        .save()
    )
    return (
        spark.read.format("excel")
        .schema("s_suppkey long, s_name string, s_acctbal double")
        .option("path", out)
        .load()
    )


@query(
    "q_stream_discover",
    oracle="""
    SELECT CAST(r_regionkey AS BIGINT) AS regionkey, r_name AS region_name
    FROM region
    """,
)
def q_stream_discover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Micro-batch file-discovery stream (reference R7/R8) drained to a
    memory sink. Offsets are replayable file manifests — the exactly-once
    restart behavior is asserted in tests/test_excel_streaming.py."""
    register_excel(spark)
    d = _materialize_region_dir(sf_dir)
    # unique sink per invocation: a memory-sink table outlives the query,
    # so a reused name would accumulate duplicate rows on a second call
    import uuid

    sink = f"stream_discover_{uuid.uuid4().hex[:10]}"
    stream = (
        spark.readStream.format("excel")
        .schema("r_regionkey long, r_name string")
        .option("path", d)
        .load()
    )
    # availableNow drains everything already in the directory in one
    # micro-batch run and stops — no 1-second trigger cadence to wait out.
    q = (
        stream.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        # availableNow terminates on its own; a False return means the
        # drain timed out — fail loudly rather than hand the correctness
        # gate a partially-filled memory table.
        if not q.awaitTermination(120):
            raise TimeoutError("q_stream_discover: drain did not finish in 120s")
    finally:
        q.stop()
    return spark.table(sink).select(
        F.col("r_regionkey").alias("regionkey"),
        F.col("r_name").alias("region_name"),
    )


# ---------------------------------------------------------------------------
# Multi-sheet workbook: sheet selection against a REAL multi-sheet file
# ---------------------------------------------------------------------------


def _materialize_dims_workbook(sf_dir: str) -> str:
    """nation + region as TWO sheets of ONE workbook (idempotent). The
    other Excel fixtures are single-sheet, so this is the file that
    actually exercises sheet resolution."""
    out = os.path.join(_fixture_dir(sf_dir), "dims.xlsx")
    if not os.path.exists(out):
        nation = pq.read_table(os.path.join(sf_dir, "nation.parquet")).to_pandas()
        region = pq.read_table(os.path.join(sf_dir, "region.parquet")).to_pandas()
        tmp = out + ".tmp"
        minixlsx.write_xlsx_multi(tmp, {"nation": nation, "region": region})
        os.replace(tmp, out)
    return out


@query(
    "q_scan_excel_sheets",
    oracle="""
    SELECT r.r_name AS region_name,
           CAST(COUNT(*) AS BIGINT) AS n_nations
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def q_scan_excel_sheets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sheet-addressed reads from ONE multi-sheet workbook: the nation
    and region sheets load as two independent scans of the same file
    (``sheetName`` option → workbook.xml rel resolution,
    ``minixlsx._sheet_member``), then join — the multi-tab spreadsheet
    shape every real Excel ingest eventually meets. The reference
    accepts a ``sheetName`` option but its own tests never exercise a
    workbook with more than one sheet (reference
    ``tests/test_excel_connector.py``); here the fixture has two and
    the oracle checks the join against the original parquet dims.
    """
    register_excel(spark)
    path = _materialize_dims_workbook(sf_dir)
    nation = (
        spark.read.format("excel")
        .option("path", path)
        .option("sheetName", "nation")
        .load()
    )
    region = (
        spark.read.format("excel")
        .option("path", path)
        .option("sheetName", "region")
        .load()
    )
    return (
        nation.join(
            F.broadcast(region),
            nation.n_regionkey == region.r_regionkey,
        )
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(F.count("*").cast("long").alias("n_nations"))
    )


@query(
    "q_sink_excel_sheets",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                AS DECIMAL(38,2)) AS VARCHAR) AS total_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_sink_excel_sheets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sheet-per-group Excel sink roundtrip: a per-priority aggregate
    lands as ONE workbook with one sheet per priority (the report
    layout spreadsheet consumers actually ask for), then every sheet
    reads back through the datasource and re-unions — the oracle checks
    the union against the original aggregation, so the multi-sheet
    write→resolve→decode path is proven lossless.

    The collect feeding the writer is the AGGREGATED result (|priorities|
    rows — bounded at any SF, the same bounded-collect rule as the bloom
    and PQ builders); the fan-in is a driver-side workbook assembly of
    that tiny frame, never of data.
    """
    import pandas as pd

    register_excel(spark)
    agg = (
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .cast("string")
            .alias("total_price"),
        )
    )
    rows = agg.collect()  # bounded: one row per priority
    out = os.path.join(_fixture_dir(sf_dir), "orders_by_priority.xlsx")
    sheets = {
        r.o_orderpriority: pd.DataFrame(
            {
                "o_orderpriority": [r.o_orderpriority],
                "n_orders": [r.n_orders],
                "total_price": [r.total_price],
            }
        )
        for r in sorted(rows, key=lambda r: r.o_orderpriority)
    }
    tmp = out + ".tmp"
    minixlsx.write_xlsx_multi(tmp, sheets)
    os.replace(tmp, out)
    parts = [
        spark.read.format("excel")
        .option("path", out)
        .option("sheetName", name)
        .schema("o_orderpriority string, n_orders long, total_price string")
        .load()
        for name in sheets
    ]
    result = parts[0]
    for p in parts[1:]:
        result = result.unionByName(p)
    return result


# ---------------------------------------------------------------------------
# Round 7: recursive directory lookup + all-sheets union (VERDICT_r6 #4 —
# the two remaining ways a spreadsheet drop-directory user beats the
# reference, which is non-recursive single-sheet: connector.py:148-156,75)
# ---------------------------------------------------------------------------


def _materialize_nation_nested_dir(sf_dir: str) -> str:
    """nation.parquet → nested drop-directory layout: one subdirectory per
    region, one xlsx per region's nations (idempotent). A top-level decoy
    .txt proves extension filtering survives the walk."""
    out_dir = os.path.join(_fixture_dir(sf_dir), "nation_nested")
    done = os.path.join(out_dir, "_done")
    if not os.path.exists(done):
        frame = pq.read_table(os.path.join(sf_dir, "nation.parquet")).to_pandas()
        for key, part in frame.groupby("n_regionkey"):
            sub = os.path.join(out_dir, f"region={key}")
            os.makedirs(sub, exist_ok=True)
            minixlsx.write_xlsx(
                os.path.join(sub, f"nation-{key}.xlsx"),
                part.reset_index(drop=True),
            )
        with open(os.path.join(out_dir, "README.txt"), "w") as fh:
            fh.write("decoy: non-xlsx files must be ignored by the walk\n")
        open(done, "w").close()
    return out_dir


@query(
    "q_scan_excel_recursive",
    oracle="""
    SELECT CAST(n_regionkey AS BIGINT) AS regionkey,
           CAST(COUNT(*) AS BIGINT) AS n_nations,
           MIN(n_name) AS first_nation
    FROM nation
    GROUP BY n_regionkey
    """,
)
def q_scan_excel_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive drop-directory scan: workbooks nested one directory per
    region load through ``recursiveFileLookup=true`` (``os.walk`` file
    planning; non-xlsx decoys ignored), then aggregate per region. The
    reference lists only the top level (connector.py:148-156), so nested
    layouts silently read zero files there; here the oracle proves every
    nested workbook contributed."""
    register_excel(spark)
    d = _materialize_nation_nested_dir(sf_dir)
    return (
        spark.read.format("excel")
        .option("path", d)
        .option("recursiveFileLookup", "true")
        .load()
        .groupBy(F.col("n_regionkey").alias("regionkey"))
        .agg(
            F.count("*").cast("long").alias("n_nations"),
            F.min("n_name").alias("first_nation"),
        )
    )


def _materialize_supplier_sheets_workbook(sf_dir: str) -> str:
    """supplier (suppkey<60) → ONE workbook, three same-schema sheets
    (split by s_nationkey % 3) — the all-sheets union fixture."""
    out = os.path.join(_fixture_dir(sf_dir), "supplier_shards.xlsx")
    if not os.path.exists(out):
        frame = (
            pq.read_table(os.path.join(sf_dir, "supplier.parquet"))
            .to_pandas()
            .query("s_suppkey < 60")[["s_suppkey", "s_name", "s_nationkey", "s_acctbal"]]
        )
        sheets = {
            f"shard_{k}": part.reset_index(drop=True)
            for k, part in frame.groupby(frame["s_nationkey"] % 3)
        }
        tmp = out + ".tmp"
        minixlsx.write_xlsx_multi(tmp, sheets)
        os.replace(tmp, out)
    return out


@query(
    "q_scan_excel_allsheets",
    oracle="""
    SELECT CAST(s_suppkey AS BIGINT) AS suppkey,
           s_name AS supplier_name,
           CAST(s_nationkey AS BIGINT) AS nationkey
    FROM supplier
    WHERE s_suppkey < 60
    """,
)
def q_scan_excel_allsheets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-sheets union: ``sheetName="*"`` reads EVERY sheet of the
    workbook as one DataFrame — one input partition per (file, sheet),
    schema bound from the first sheet. This is the "whole workbook"
    ingest the reference cannot express at all (its option addresses
    exactly one sheet, connector.py:75); the oracle proves the union is
    lossless against the parquet the sheets were split from."""
    register_excel(spark)
    path = _materialize_supplier_sheets_workbook(sf_dir)
    return (
        spark.read.format("excel")
        .option("path", path)
        .option("sheetName", "*")
        .load()
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("supplier_name"),
            F.col("s_nationkey").alias("nationkey"),
        )
    )
