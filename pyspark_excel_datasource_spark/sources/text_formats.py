"""CSV / JSON-lines source + sink queries (SURVEY §2.3 source-matrix
breadth beyond the reference's single Excel format).

Same bridge-fixture strategy as ``excel_queries``: rows materialize
deterministically from the testdata parquet into .csv / .jsonl under
``.fixtures/``, Spark reads them through its native splittable readers,
and the DuckDB oracle reads the ORIGINAL parquet table — so the
comparison exercises the full decode path.

Scale notes common to both formats: they are line-delimited and hence
SPLITTABLE — Spark assigns byte ranges per task and each task scans to
the first newline past its range start, so a 100 TB directory fans out
without any planning metadata. Explicit schemas are bound everywhere
(the inference pass over a 100 TB input is a full extra read; binding
skips it and also pins cross-engine types). Floats survive the text
roundtrip because both writers emit shortest-repr decimal strings,
which parse back to the identical IEEE double.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import query
from .excel_queries import _fixture_dir, ensure_fixture


def _materialize_supplier_csv(sf_dir: str) -> str:
    """supplier.parquet → supplier.csv (header row, shortest-repr
    floats)."""
    return ensure_fixture(
        sf_dir,
        "supplier.csv",
        lambda out: pq.read_table(
            os.path.join(sf_dir, "supplier.parquet"),
            columns=["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
        ).to_pandas().to_csv(out, index=False),
    )


def _materialize_part_jsonl(sf_dir: str) -> str:
    """part.parquet → part.jsonl (one JSON object per line)."""
    return ensure_fixture(
        sf_dir,
        "part.jsonl",
        lambda out: pq.read_table(
            os.path.join(sf_dir, "part.parquet"),
            columns=["p_partkey", "p_name", "p_brand", "p_size", "p_retailprice"],
        ).to_pandas().to_json(out, orient="records", lines=True, double_precision=15),
    )


@query(
    "q_scan_csv",
    oracle="""
    SELECT s_suppkey, s_name, CAST(s_nationkey AS BIGINT) AS s_nationkey,
           s_acctbal
    FROM supplier
    WHERE s_acctbal > 0
    """,
)
def q_scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV scan with a bound schema and a pushed filter.

    The schema is bound (no inference pass — at 100 TB inference is a
    second full read), the reader splits on newlines, and the acctbal
    predicate reaches the scan as a data filter (CSV can't do row-group
    skipping like parquet, but the filter still runs inside the scan
    stage before any exchange).
    """
    path = _materialize_supplier_csv(sf_dir)
    return (
        spark.read.schema(
            "s_suppkey long, s_name string, s_nationkey long, s_acctbal double"
        )
        .option("header", True)
        .csv(path)
        .filter(F.col("s_acctbal") > 0)
    )


@query(
    "q_sink_csv",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def q_sink_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink roundtrip: aggregate → partitioned CSV directory write →
    read back with a bound schema. The write is one file per partition
    (the native parallel layout — no driver funnel); the readback binds
    the schema and unions the part files."""
    out = os.path.join(_fixture_dir(sf_dir), "orders_by_priority_csv")
    src = (
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        .filter(F.col("o_orderstatus") == "F")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )
    src.write.mode("overwrite").option("header", True).csv(out)
    return (
        spark.read.schema("o_orderpriority string, n_orders long")
        .option("header", True)
        .csv(out)
    )


@query(
    "q_scan_jsonl",
    oracle="""
    SELECT p_partkey, p_name, p_brand, CAST(p_size AS BIGINT) AS p_size,
           p_retailprice
    FROM part
    WHERE p_size >= 25
    """,
)
def q_scan_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines scan with a bound schema (semi-structured ingest,
    reference has no JSON surface).

    Bound schema again skips the inference pass AND avoids the
    engine-specific int-vs-long widening inference would introduce;
    unreferenced JSON keys are never even parsed (Jackson stream skips
    them), which is the column-pruning analogue for text formats.
    """
    path = _materialize_part_jsonl(sf_dir)
    return (
        spark.read.schema(
            "p_partkey long, p_name string, p_brand string,"
            " p_size long, p_retailprice double"
        )
        .json(path)
        .filter(F.col("p_size") >= 25)
    )


# ---------------------------------------------------------------------------
# Raw line-oriented text source / sink (the rawest ingest format of all)
# ---------------------------------------------------------------------------


def _materialize_docs_txt(sf_dir: str) -> str:
    """documents.parquet → docs.txt (one ``doc_id<TAB>text`` line per
    document; the corpus text contains neither tabs nor newlines)."""

    def build(out: str) -> None:
        frame = pq.read_table(
            os.path.join(sf_dir, "documents.parquet"),
            columns=["doc_id", "text"],
        ).to_pandas()
        with open(out, "w", encoding="utf-8") as fh:
            for doc_id, text in zip(frame["doc_id"], frame["text"]):
                fh.write(f"{doc_id}\t{text}\n")

    return ensure_fixture(sf_dir, "docs.txt", build)


@query(
    "q_scan_text",
    oracle="""
    SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS text_len,
           CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_words
    FROM documents
    WHERE LENGTH(text) >= 200
    """,
)
def q_scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw text-line scan (``spark.read.text``) + in-plan structural
    parse — the ingest path for the rawest corpus format there is (one
    record per line, no schema at all).

    ``text`` files are splittable exactly like CSV/JSONL, so a 100 TB
    dump fans out per byte range with no planning metadata; the
    tab-split parse and the length filter are codegen'd projections ON
    the scan — nothing materializes the unparsed line beyond its task.
    The oracle reads the ORIGINAL parquet, so the hash check proves the
    full encode→line→decode path is lossless.
    """
    path = _materialize_docs_txt(sf_dir)
    lines = spark.read.text(path)
    parsed = lines.select(
        F.split(F.col("value"), "\t", 2).alias("kv")
    ).select(
        F.element_at("kv", 1).cast("long").alias("doc_id"),
        F.element_at("kv", 2).alias("text"),
    )
    return parsed.filter(F.length("text") >= 200).select(
        "doc_id",
        F.length("text").cast("long").alias("text_len"),
        F.size(F.split("text", " ")).cast("long").alias("n_words"),
    )


@query(
    "q_sink_text",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    """,
)
def q_sink_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-line sink roundtrip: aggregate → single-string-column encode
    → parallel ``write.text`` directory → read back and re-parse. The
    encode (``concat_ws``) and the write are both per-partition — no
    driver funnel — and the readback proves the line format carries the
    aggregate losslessly (integers survive text exactly)."""
    out = os.path.join(_fixture_dir(sf_dir), "lang_census_txt")
    src = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .select(F.concat_ws("\t", "lang", "n_docs", "total_chars").alias("value"))
    )
    src.write.mode("overwrite").text(out)
    back = spark.read.text(out).select(F.split("value", "\t").alias("kv"))
    return back.select(
        F.element_at("kv", 1).alias("lang"),
        F.element_at("kv", 2).cast("long").alias("n_docs"),
        F.element_at("kv", 3).cast("long").alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# XML source / sink (Spark 4 native XML data source)
# ---------------------------------------------------------------------------


def _materialize_customer_xml(sf_dir: str) -> str:
    """customer.parquet → customer.xml (one <row> element per record).
    Values are written with Python's shortest-repr str() so
    doubles survive the text roundtrip bit-exactly (same rationale as
    the CSV/JSONL bridges)."""
    from xml.sax.saxutils import escape

    def build(out: str) -> None:
        cols = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
        rows = pq.read_table(
            os.path.join(sf_dir, "customer.parquet"), columns=cols
        ).to_pylist()
        with open(out, "w", encoding="utf-8") as fh:
            fh.write("<customers>\n")
            for r in rows:
                fh.write("  <row>")
                for c in cols:
                    fh.write(f"<{c}>{escape(str(r[c]))}</{c}>")
                fh.write("</row>\n")
            fh.write("</customers>\n")

    return ensure_fixture(sf_dir, "customer.xml", build)


@query(
    "q_scan_xml",
    oracle="""
    SELECT c_custkey, c_name, CAST(c_nationkey AS BIGINT) AS c_nationkey,
           c_acctbal, c_mktsegment
    FROM customer
    WHERE c_acctbal > 5000
    """,
)
def q_scan_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native XML scan (Spark 4's built-in ``xml`` format, rowTag mode)
    with a bound schema — the enterprise-ingest format the reference's
    spreadsheet users hit next most often after Excel itself.

    Bound schema skips inference (a full extra parse pass at 100 TB)
    and pins cross-engine types; the balance filter applies post-decode
    (text formats have no stats to push into). Unlike CSV/JSONL, XML
    with multi-line records is NOT byte-splittable — at 100 TB you shard
    by FILES (many moderate XML files → one per task), which is exactly
    how this fixture reads.
    """
    path = _materialize_customer_xml(sf_dir)
    return (
        spark.read.format("xml")
        .option("rowTag", "row")
        .schema(
            "c_custkey long, c_name string, c_nationkey long,"
            " c_acctbal double, c_mktsegment string"
        )
        .load(path)
        .filter(F.col("c_acctbal") > 5000)
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    )


@query(
    "q_sink_xml",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS VARCHAR) AS total_bal
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def q_sink_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink roundtrip: aggregate → parallel XML directory write →
    bound-schema readback. One XML file per partition (no driver
    funnel), same layout contract as the CSV sink; the decimal total
    travels as its canonical string so the text roundtrip is exact.
    """
    out = os.path.join(_fixture_dir(sf_dir), "segment_balances_xml")
    src = (
        spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .cast("string")
            .alias("total_bal"),
        )
    )
    src.write.mode("overwrite").format("xml").option("rowTag", "row").save(out)
    return (
        spark.read.format("xml")
        .option("rowTag", "row")
        .schema("c_mktsegment string, n_customers long, total_bal string")
        .load(out)
    )
