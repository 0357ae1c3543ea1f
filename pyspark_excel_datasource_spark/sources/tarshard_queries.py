"""Tar-shard (WebDataset-layout) connector queries.

Bridge-fixture pattern as for the Excel connector: the same rows
materialized as tar shards (read through the tarshard source) and as
the original ``documents`` parquet (read by the DuckDB oracle), so the
scan and the write→readback roundtrip are hash-verified end to end.
"""

from __future__ import annotations

import io
import os
import tarfile

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import query
from .excel_queries import _fixture_dir, ensure_fixture
from .tarshard import register_tarshard

_N_SHARDS = 4


def _materialize_doc_shards(sf_dir: str) -> str:
    """documents → ``_N_SHARDS`` tar shards, WebDataset layout: sample
    key = zero-padded doc_id, members ``<key>.txt`` (utf-8 text) and
    ``<key>.cls`` (lang label). Deterministic (sorted keys, mtime=0)."""

    def build(out_dir: str) -> None:
        os.makedirs(out_dir)
        tbl = pq.read_table(
            os.path.join(sf_dir, "documents.parquet"),
            columns=["doc_id", "text", "lang"],
        )
        rows = sorted(
            zip(
                tbl.column("doc_id").to_pylist(),
                tbl.column("text").to_pylist(),
                tbl.column("lang").to_pylist(),
            )
        )
        tars = [
            tarfile.open(os.path.join(out_dir, f"shard-{i:05d}.tar"), "w")
            for i in range(_N_SHARDS)
        ]
        try:
            for doc_id, text, lang in rows:
                tf = tars[doc_id % _N_SHARDS]
                key = f"{doc_id:09d}"
                for ext, payload in (("txt", text), ("cls", lang)):
                    raw = payload.encode("utf-8")
                    info = tarfile.TarInfo(name=f"{key}.{ext}")
                    info.size = len(raw)
                    info.mtime = 0
                    tf.addfile(info, io.BytesIO(raw))
        finally:
            for tf in tars:
                tf.close()

    return ensure_fixture(sf_dir, "doc_shards", build)


@query(
    "q_scan_tarshard",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY lang
    """,
)
def q_scan_tarshard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset tar-shard scan in ``samples`` mode: each tar is one
    input partition; each sample row carries a ``map<string,binary>`` of
    its members, decoded in-plan with built-in functions (no Python past
    the source). The per-lang census must match the parquet the shards
    were derived from — proving the shard → sample → typed-column path
    is lossless. This is the ingest format large multimodal training
    corpora actually ship in; the reference has no analogue.
    """
    register_tarshard(spark)
    d = _materialize_doc_shards(sf_dir)
    # schema memoized per (format, path, mode) — skips the Python
    # source's ~130 ms schema() round trip per invocation (the shard
    # fixture is write-once); see catalog.source_read.
    from ..catalog import source_read

    samples = source_read(spark, "tarshard", d, mode="samples")
    return (
        samples.select(
            F.decode(F.col("data")["cls"], "UTF-8").alias("lang"),
            F.length(F.decode(F.col("data")["txt"], "UTF-8")).alias("chars"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("chars").cast("long").alias("total_chars"),
        )
    )


@query(
    "q_sink_tarshard",
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           MD5(text) AS text_hash
    FROM documents
    WHERE doc_id % 7 = 0
    """,
)
def q_sink_tarshard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tar-shard sink roundtrip: a documents subset is written as tar
    shards (one per task via the staged-commit writer, 4 partitions),
    read back in ``members`` mode, and every document's md5 — computed
    from the payload BYTES that came out of the tar — must match the
    md5 DuckDB computes on the original parquet text. Byte-lossless
    write→read, including the multi-partition fan-out the reference's
    single-file writer corrupts (connector.py:296-319).
    """
    from ..catalog import table

    register_tarshard(spark)
    out = os.path.join(_fixture_dir(sf_dir), "doc_shards_roundtrip")
    src = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 7 == 0)
        .select(
            F.format_string("%09d", F.col("doc_id")).alias("key"),
            F.create_map(
                F.lit("txt"), F.encode(F.col("text"), "UTF-8")
            ).alias("data"),
        )
    )
    (
        src.repartition(4)
        .write.format("tarshard")
        .option("path", out)
        .mode("overwrite")
        .save()
    )
    members = spark.read.format("tarshard").load(out)
    return members.filter(F.col("ext") == "txt").select(
        F.col("key").cast("long").alias("doc_id"),
        F.md5(F.col("payload")).alias("text_hash"),
    )


@query(
    "q_stream_tarshard",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents
    GROUP BY lang
    """,
)
def q_stream_tarshard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-arrival micro-batch stream: the drop directory of tar
    shards drains through ``readStream.format("tarshard")`` (replayable
    manifest offsets, one task per arriving shard — the training-data
    ingest loop), and the per-lang census of the streamed members must
    match the parquet the shards were derived from. Exactly-once
    restart behavior is pinned in ``tests/test_tarshard.py``."""
    import uuid

    register_tarshard(spark)
    d = _materialize_doc_shards(sf_dir)
    sink = f"stream_tarshard_{uuid.uuid4().hex[:10]}"
    stream = (
        spark.readStream.format("tarshard")
        .schema(
            "shard string, key string, ext string, member string,"
            " size long, payload binary"
        )
        .load(d)
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(120):
            raise TimeoutError("q_stream_tarshard: drain did not finish in 120s")
    finally:
        q.stop()
    return (
        spark.table(sink)
        .filter(F.col("ext") == "cls")
        .select(F.decode(F.col("payload"), "UTF-8").alias("lang"))
        .groupBy("lang")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


def _materialize_image_shards(sf_dir: str) -> str:
    """Synthetic PNG shards: for each doc_id < 300, a valid PNG
    signature + IHDR whose dimensions derive deterministically from the
    id (width 32+id%97, height 16+id%53, color type cycling gray/RGB/
    RGBA) plus id%31 payload padding — so the oracle can recompute every
    header field with arithmetic. 2 shards, WebDataset layout."""
    import struct
    import zlib


    def build(out_dir: str) -> None:
        os.makedirs(out_dir)
        ids = sorted(
            i
            for i in pq.read_table(
                os.path.join(sf_dir, "documents.parquet"), columns=["doc_id"]
            ).column("doc_id").to_pylist()
            if i < 300
        )
        tars = [
            tarfile.open(os.path.join(out_dir, f"img-{i:05d}.tar"), "w")
            for i in range(2)
        ]
        try:
            for doc_id in ids:
                w = 32 + doc_id % 97
                h = 16 + doc_id % 53
                color_type = (0, 2, 6)[doc_id % 3]
                ihdr_data = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
                ihdr = (
                    struct.pack(">I", len(ihdr_data))
                    + b"IHDR"
                    + ihdr_data
                    + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr_data))
                )
                payload = b"\x89PNG\r\n\x1a\n" + ihdr + b"\x00" * (doc_id % 31)
                info = tarfile.TarInfo(name=f"{doc_id:09d}.png")
                info.size = len(payload)
                info.mtime = 0
                tars[doc_id % 2].addfile(info, io.BytesIO(payload))
        finally:
            for tf in tars:
                tf.close()

    return ensure_fixture(sf_dir, "img_shards", build)


@query(
    "q_multimodal_tarshard",
    oracle="""
    WITH imgs AS (
        SELECT doc_id,
               32 + doc_id % 97 AS w,
               16 + doc_id % 53 AS h,
               CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS channels,
               33 + doc_id % 31 AS n_bytes
        FROM documents WHERE doc_id < 300
    )
    SELECT CAST(channels AS INT) AS channels,
           CAST(COUNT(*) AS BIGINT) AS n_images,
           CAST(SUM(w) AS BIGINT) AS total_width,
           CAST(MAX(h) AS BIGINT) AS max_height,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes
    FROM imgs GROUP BY channels
    """,
)
def q_multimodal_tarshard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-shard ingest, decoded ENTIRELY JVM-side: tar shards of PNG
    payloads stream through the tarshard source and the IHDR header
    fields (big-endian width/height at byte offsets 17/21, color type at
    26) are extracted with built-in byte functions — substring + hex +
    conv — no Python past the source. This is the shards-of-images →
    typed-feature-table hop of a multimodal training pipeline; the
    oracle recomputes every header field from the deterministic
    synthesis arithmetic, so a single wrong byte offset fails the hash.
    (PNG total length = 8-byte signature + 25-byte IHDR chunk + padding
    = 33 + doc_id % 31 bytes — also hash-checked via total_bytes.)
    """
    register_tarshard(spark)
    d = _materialize_image_shards(sf_dir)
    members = spark.read.format("tarshard").load(d)

    def be32(offset: int) -> F.Column:
        return F.conv(F.hex(F.substring(F.col("payload"), offset, 4)), 16, 10).cast(
            "long"
        )

    color = F.conv(F.hex(F.substring(F.col("payload"), 26, 1)), 16, 10).cast("int")
    imgs = members.filter(F.col("ext") == "png").select(
        be32(17).alias("w"),
        be32(21).alias("h"),
        # PNG color type → channel count (gray/RGB/RGBA used here)
        F.when(color == 0, 1).when(color == 2, 3).otherwise(4).alias("channels"),
        F.col("size").alias("n_bytes"),
    )
    return imgs.groupBy("channels").agg(
        F.count("*").cast("long").alias("n_images"),
        F.sum("w").cast("long").alias("total_width"),
        F.max("h").cast("long").alias("max_height"),
        F.sum("n_bytes").cast("long").alias("total_bytes"),
    )


@query(
    "q_pipeline_tarshard_ingest",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT MD5(text)) AS BIGINT) AS n_unique,
           CAST(SUM(CASE WHEN LENGTH(text) >= 100 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_pass_gate,
           CAST(MAX(LENGTH(text)) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY lang
    """,
)
def q_pipeline_tarshard_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-shards → pipeline report card in ONE plan: tar samples decode
    to (lang, text), then a single aggregation computes the ingest
    health metrics a corpus pipeline gates on — document counts, exact
    near-dup pressure (distinct md5 of the payload bytes), a length
    quality gate, and the max-length outlier probe. One scan of the
    shards, one shuffle; the oracle recomputes everything from the
    source parquet, so the whole decode→measure hop is hash-proven.
    """
    register_tarshard(spark)
    d = _materialize_doc_shards(sf_dir)
    # schema memoized per (format, path, mode) — skips the Python
    # source's ~130 ms schema() round trip per invocation (the shard
    # fixture is write-once); see catalog.source_read.
    from ..catalog import source_read

    samples = source_read(spark, "tarshard", d, mode="samples")
    docs = samples.select(
        F.decode(F.col("data")["cls"], "UTF-8").alias("lang"),
        F.decode(F.col("data")["txt"], "UTF-8").alias("text"),
        F.md5(F.col("data")["txt"]).alias("text_md5"),
    )
    return docs.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("text_md5").cast("long").alias("n_unique"),
        F.sum((F.length("text") >= 100).cast("int")).cast("long").alias("n_pass_gate"),
        F.max(F.length("text")).cast("long").alias("max_chars"),
    )
