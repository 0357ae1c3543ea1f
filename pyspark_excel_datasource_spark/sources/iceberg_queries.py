"""Iceberg-table queries: current-snapshot scan + snapshot time travel.

Fixture (3 snapshots over ``orders``, built by ``sources/iceberg.py``):
s1 append ``o_orderkey % 3 != 0`` · s2 append the remainder (table ==
orders) · s3 OVERWRITE with only ``o_orderstatus = 'F'`` rows. The
DuckDB oracles read the original parquet with the matching predicate,
so the hash checks prove exact snapshot resolution through the whole
metadata tree: version-hint → metadata JSON → manifest-list Avro →
manifest Avro → parquet (the Avro layers decoded by the repo's own
container codec).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import local_df, table
from ..plans.registry import query
from .excel_queries import _fixture_dir, ensure_fixture
from .iceberg import (
    expire_snapshots,
    read_iceberg,
    rewrite_data_files,
    snapshots,
    write_iceberg,
)


def _materialize_orders_iceberg(spark: SparkSession, sf_dir: str) -> str:
    """orders.parquet → 3-snapshot Iceberg table, idempotent per SF."""
    def build(out: str) -> None:
        orders = table(spark, sf_dir, "orders")
        third = F.col("o_orderkey") % 3 == 0
        write_iceberg(spark, orders.filter(~third), out)
        write_iceberg(spark, orders.filter(third), out, mode="append")
        write_iceberg(
            spark, orders.filter(F.col("o_orderstatus") == "F"), out, mode="overwrite"
        )

    return ensure_fixture(sf_dir, "orders_iceberg", build)


@query(
    "q_scan_iceberg",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                AS DECIMAL(38,2)) AS VARCHAR) AS sum_price
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def q_scan_iceberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Current-snapshot Iceberg scan after two appends and an OVERWRITE:
    the reader resolves s3's manifest list (which references ONLY the
    overwrite's manifest — prior manifests simply fall out of the
    snapshot, no tombstone replay), and the data path is one plain
    parquet scan over the resolved files. Structural contrast with the
    Delta log is documented in ``sources/iceberg.py``: snapshot tree vs
    change journal, same atomic single-file publish.
    """
    path = _materialize_orders_iceberg(spark, sf_dir)
    return (
        read_iceberg(spark, path)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .cast("string")
            .alias("sum_price"),
        )
    )


def _materialize_orders_iceberg_part(spark: SparkSession, sf_dir: str) -> str:
    """orders.parquet → 2-snapshot identity-partitioned Iceberg table."""
    def build(out: str) -> None:
        orders = table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
        )
        third = F.col("o_orderkey") % 3 == 0
        write_iceberg(
            spark, orders.filter(~third), out, partition_by=("o_orderstatus",)
        )
        write_iceberg(
            spark, orders.filter(third), out, mode="append",
            partition_by=("o_orderstatus",),
        )

    return ensure_fixture(sf_dir, "orders_iceberg_part", build)


@query(
    "q_scan_iceberg_pruned",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
    FROM orders
    WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """,
)
def q_scan_iceberg_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-entry partition-pruned Iceberg scan: ``partition_filter``
    drops the other identity partitions' files while walking the
    manifests — they are never listed, opened, or scheduled, so the scan
    plans ~1/|partitions| of the table's files (the Iceberg twin of
    ``q_scan_delta_pruned``; pinned by tests/test_iceberg.py::
    test_scan_iceberg_pruned_plans_fraction_of_files). The oracle states
    the same predicate as a plain filter — identical rows prove the
    manifest-level pruning lost nothing.
    """
    path = _materialize_orders_iceberg_part(spark, sf_dir)
    return (
        read_iceberg(spark, path, partition_filter={"o_orderstatus": {"O"}})
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
        )
    )


@query(
    "q_scan_iceberg_snapshot",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q_scan_iceberg_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot time travel to s2 (the full pre-overwrite table): the
    reader walks s2's manifest list — which still references s1's
    manifest alongside s2's own (manifests are immutable and SHARED
    between snapshots; an append writes one new manifest, never
    rewrites old ones) — so the census equals the complete base table
    even though the current snapshot (s3) retains only F-status rows.
    """
    path = _materialize_orders_iceberg(spark, sf_dir)
    return (
        read_iceberg(spark, path, snapshot_id=2)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
        )
    )


@query(
    "q_iceberg_compact",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           CAST(1 AS BIGINT) AS n_files
    FROM orders
    WHERE o_orderkey % 5 = 0
    GROUP BY o_orderstatus
    """,
)
def q_iceberg_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg compaction (``rewrite_data_files``): two fragmented
    appends (3 files each, per partition) then a rewrite to ONE file per
    identity partition, committed as a ``replace`` snapshot. The output
    joins the post-compaction per-partition FILE COUNT (from the new
    snapshot's manifests) against the row census, and the oracle pins
    the count at exactly 1 — the hash check proves compaction happened
    AND changed no data. Counterpart of Delta's OPTIMIZE
    (``q_delta_optimize``): same maintenance contract, expressed as a
    snapshot-tree replace instead of a dataChange=false journal commit.
    """
    import shutil

    from .iceberg import snapshot_iceberg

    out = os.path.join(_fixture_dir(sf_dir), "orders_compact_iceberg")
    shutil.rmtree(out, ignore_errors=True)
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 5 == 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    odd = F.col("o_orderkey") % 2 == 1
    write_iceberg(
        spark, o.filter(~odd).repartition(3), out,
        partition_by=("o_orderstatus",),
    )
    write_iceberg(
        spark, o.filter(odd).repartition(3), out,
        mode="append", partition_by=("o_orderstatus",),
    )
    stats = rewrite_data_files(spark, out, target_files=1)
    assert stats["files_after"] < stats["files_before"], stats
    snap = snapshot_iceberg(out)
    counts: dict[str, int] = {}
    for pv in snap.files.values():
        counts[pv["o_orderstatus"]] = counts.get(pv["o_orderstatus"], 0) + 1
    files_df = local_df(spark, 
        [(k, v) for k, v in counts.items()], "o_orderstatus string, n_files long"
    )
    return (
        read_iceberg(spark, out)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
        )
        .join(F.broadcast(files_df), "o_orderstatus")
        .select("o_orderstatus", "n_orders", "sum_key", "n_files")
    )


@query(
    "q_iceberg_expire",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           CAST(2 AS BIGINT) AS expired_snapshots,
           CAST(4 AS BIGINT) AS deleted_data_files,
           CAST(1 AS BIGINT) AS snapshots_after,
           CAST(1 AS INT) AS timetravel_gone
    FROM orders
    WHERE o_orderstatus = 'F'
    """,
)
def q_iceberg_expire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot expiry: a 3-snapshot history (append 2 files, append 2
    more, OVERWRITE to F-status only) expired down to ``keep_last=1``.
    Reachability GC: the overwrite snapshot references only its own
    manifest, so the two appends' 4 data files become unreachable and
    are deleted — the oracle pins ``expired_snapshots=2``,
    ``deleted_data_files=4``, ``snapshots_after=1``, and
    ``timetravel_gone=1`` (reading snapshot 1 now raises), while the
    current-read census proves the retained snapshot is byte-identical.
    Iceberg's twin of Delta VACUUM (``q_delta_optimize``/VACUUM pair):
    pure metadata reachability, no tombstone retention window.
    """
    import shutil

    out = os.path.join(_fixture_dir(sf_dir), "orders_expire_iceberg")
    shutil.rmtree(out, ignore_errors=True)
    o = (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    third = F.col("o_orderkey") % 3 == 0
    write_iceberg(spark, o.filter(~third).repartition(2), out)
    write_iceberg(spark, o.filter(third).repartition(2), out, mode="append")
    write_iceberg(
        spark, o.filter(F.col("o_orderstatus") == "F"), out, mode="overwrite"
    )
    stats = expire_snapshots(out, keep_last=1)
    trail = snapshots(out)
    gone = 0
    try:
        read_iceberg(spark, out, snapshot_id=1)
    except ValueError:
        gone = 1
    return (
        read_iceberg(spark, out)
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
        )
        .select(
            "n_orders",
            "sum_key",
            F.lit(stats["expired_snapshots"]).cast("long").alias("expired_snapshots"),
            F.lit(stats["deleted_data_files"]).cast("long").alias("deleted_data_files"),
            F.lit(len(trail)).cast("long").alias("snapshots_after"),
            F.lit(gone).cast("int").alias("timetravel_gone"),
        )
    )


@query(
    "q_iceberg_files",
    oracle="""
    SELECT o_orderstatus,
           CAST(2 AS BIGINT) AS n_files,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS manifest_rows
    FROM orders
    WHERE o_orderkey % 7 = 0
    GROUP BY o_orderstatus
    """,
)
def q_iceberg_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``files`` metadata table: per-partition file count and row
    count read from MANIFESTS ONLY (no data file opened), joined against
    a real data-side census. The oracle pins n_files at exactly 2 (two
    appends, each hash-partitioned so every status lands in one task =
    one file) and requires ``manifest_rows`` (sum of the manifests'
    record_count) to equal the scanned ``n_rows`` — the hash check
    proves the committer's footer-collected statistics agree with the
    data, which is what lets planners size scans and compaction from
    metadata alone at 100 TB.
    """
    import shutil

    from .iceberg import files_meta

    out = os.path.join(_fixture_dir(sf_dir), "orders_files_iceberg")
    shutil.rmtree(out, ignore_errors=True)
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 7 == 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    odd = F.col("o_orderkey") % 2 == 1
    for i, part in enumerate((o.filter(~odd), o.filter(odd))):
        write_iceberg(
            spark,
            part.repartition(2, F.col("o_orderstatus")),
            out,
            mode="append" if i else "overwrite",
            partition_by=("o_orderstatus",),
        )
    meta = files_meta(out)
    files_df = local_df(spark, 
        [
            (r["partition"]["o_orderstatus"], r["record_count"])
            for r in meta
        ],
        "o_orderstatus string, record_count long",
    ).groupBy("o_orderstatus").agg(
        F.count("*").cast("long").alias("n_files"),
        F.sum("record_count").cast("long").alias("manifest_rows"),
    )
    return (
        read_iceberg(spark, out)
        .groupBy("o_orderstatus")
        .agg(F.count("*").cast("long").alias("n_rows"))
        .join(F.broadcast(files_df), "o_orderstatus")
        .select("o_orderstatus", "n_files", "n_rows", "manifest_rows")
    )


@query(
    "q_stream_iceberg",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
    FROM orders
    WHERE o_orderkey % 3 = 0
    GROUP BY o_orderstatus
    """,
)
def q_stream_iceberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-streaming drain of an Iceberg table
    (``pyiceberg_stream`` source): offsets are SNAPSHOT IDS, each
    micro-batch reads exactly the manifest entries ADDED by its snapshot
    range — shared manifests from earlier appends are never re-emitted,
    and the fixture's final ``replace`` snapshot (rewrite_data_files
    compaction) is INVISIBLE to the stream, the snapshot-tree analog of
    Delta's dataChange=false OPTIMIZE (``q_stream_delta``). The drained
    census therefore equals the two appends' union exactly — a re-emit
    of the compacted files would double every count and fail the hash.
    """
    import uuid

    from .iceberg import rewrite_data_files
    from .iceberg_stream import register_pyiceberg_stream

    register_pyiceberg_stream(spark)
    out = os.path.join(_fixture_dir(sf_dir), "orders_stream_iceberg")
    import shutil

    shutil.rmtree(out, ignore_errors=True)
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 3 == 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    odd = F.col("o_orderkey") % 2 == 1
    write_iceberg(spark, o.filter(~odd).repartition(2), out)
    write_iceberg(spark, o.filter(odd).repartition(2), out, mode="append")
    rewrite_data_files(spark, out, target_files=1)

    sink = f"stream_iceberg_{uuid.uuid4().hex[:10]}"
    stream = spark.readStream.format("pyiceberg_stream").load(out)
    q = (
        stream.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(120):
            raise TimeoutError("q_stream_iceberg: drain did not finish in 120s")
    finally:
        q.stop()
    return (
        spark.table(sink)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
        )
    )


@query(
    "q_stream_iceberg_maxfiles",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           TRUE AS bounded_ok
    FROM orders
    WHERE o_orderkey % 6 = 0
    GROUP BY o_orderstatus
    """,
)
def q_stream_iceberg_maxfiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``streaming-max-files-per-micro-batch`` on the pyiceberg stream
    (the public Iceberg source's admission-control option; Delta twin
    ``q_stream_delta_maxfiles``): micro-batches are capped at K input
    files via fractional offsets ({"snapshot_id", "index"}) that split
    WITHIN a snapshot, so a fresh consumer of a long-lived table
    catches up in bounded, checkpointable bites. The drain runs an
    availableNow+checkpoint restart loop (one bounded batch per run),
    then replays every committed offset range through a fresh reader
    and pins ``bounded_ok``: each batch spanned ≤ K files AND the
    spans sum to the full added-file count. The census equals the two
    appends' union (the final replace snapshot stays invisible), so
    the hash proves exactly-once + the bound together.
    """
    import json as _json
    import shutil
    import uuid

    from .iceberg import rewrite_data_files
    from .iceberg_stream import IcebergStreamReader, register_pyiceberg_stream

    register_pyiceberg_stream(spark)
    out = os.path.join(_fixture_dir(sf_dir), "orders_maxfiles_iceberg")
    shutil.rmtree(out, ignore_errors=True)
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 6 == 0)
        .select("o_orderkey", "o_orderstatus")
    )
    odd = F.expr("(o_orderkey div 6) % 2 = 1")
    write_iceberg(spark, o.filter(~odd).repartition(3), out)
    write_iceberg(spark, o.filter(odd).repartition(3), out, mode="append")
    rewrite_data_files(spark, out, target_files=1)  # replace: invisible
    expected = o.count()

    scratch = os.path.join(_fixture_dir(sf_dir), ".scratch")
    os.makedirs(scratch, exist_ok=True)
    for old in os.listdir(scratch):
        if old.startswith("icemaxfiles_"):
            shutil.rmtree(os.path.join(scratch, old), ignore_errors=True)
    run_id = uuid.uuid4().hex[:10]
    sink = os.path.join(scratch, f"icemaxfiles_sink_{run_id}")
    ckpt = os.path.join(scratch, f"icemaxfiles_ckpt_{run_id}")
    k = 2
    try:
        for _ in range(12):
            q = (
                spark.readStream.format("pyiceberg_stream")
                .option("streaming-max-files-per-micro-batch", str(k))
                .load(out)
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(120):
                q.stop()
                raise TimeoutError(
                    "q_stream_iceberg_maxfiles: drain stalled"
                )
            q.stop()
            if (
                os.path.exists(sink)
                and spark.read.parquet(sink).count() >= expected
            ):
                break
        reader = IcebergStreamReader(
            spark.read.format("pyiceberg_stream").load(out).schema,
            {"path": out},
        )
        offd = os.path.join(ckpt, "offsets")
        offs = []
        for f in sorted(
            (n for n in os.listdir(offd) if not n.startswith(".")), key=int
        ):
            last = open(os.path.join(offd, f)).read().splitlines()[-1]
            offs.append(_json.loads(last))
        prev = {"snapshot_id": 0}
        spans = []
        for off in offs:
            spans.append(len(reader.partitions(prev, off)))
            prev = off
        total = len(reader.partitions({"snapshot_id": 0}, offs[-1]))
        bounded = all(s <= k for s in spans) and sum(spans) == total
        return (
            spark.read.parquet(sink)
            .groupBy("o_orderstatus")
            .agg(
                F.count("*").cast("long").alias("n_orders"),
                F.sum("o_orderkey").cast("long").alias("sum_key"),
            )
            .withColumn("bounded_ok", F.lit(bool(bounded)))
        )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


@query(
    "q_iceberg_incremental",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
    FROM orders
    WHERE o_orderkey % 3 = 0
    GROUP BY o_orderstatus
    """,
)
def q_iceberg_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch INCREMENTAL read between snapshots (Iceberg's
    incremental-append scan): the rows ADDED by snapshot 2 of the shared
    3-snapshot fixture, resolved purely from manifest entries with
    status=ADDED and the matching snapshot id — shared manifests from
    snapshot 1 contribute nothing, so the result is exactly the second
    append's input (the ``o_orderkey % 3 = 0`` remainder), not the
    table. This is the batch twin of the ``pyiceberg_stream`` source's
    per-snapshot micro-batches: same ledger, same added-files rule,
    consumed as one DataFrame for backfill-style jobs.
    """
    from .deltalog import _read_files
    from .iceberg import _current_metadata, snapshot_iceberg
    from .iceberg_stream import _added_files

    path = _materialize_orders_iceberg(spark, sf_dir)
    md = _current_metadata(path)
    snaps = {s["snapshot-id"]: s for s in md["snapshots"]}
    added = dict(_added_files(path, snaps[2]))
    snap = snapshot_iceberg(path, snapshot_id=2)
    return (
        _read_files(spark, path, added, snap.schema, snap.partition_columns)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
        )
    )


@query(
    "q_iceberg_history",
    oracle="""
    SELECT * FROM (VALUES
        (CAST(3 AS BIGINT), 'overwrite'),
        (CAST(2 AS BIGINT), 'append'),
        (CAST(1 AS BIGINT), 'append')
    ) AS t(snapshot_id, operation)
    """,
)
def q_iceberg_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The snapshot audit trail (Iceberg's ``history``/``snapshots``
    metadata tables), newest first — the snapshot-tree twin of
    ``q_delta_history``'s commit journal. The shared 3-snapshot fixture's
    lifecycle (append, append, overwrite) is deterministic, so the
    oracle is a literal VALUES table; a lost snapshot, an extra one, or
    a mislabeled operation hash-mismatches. Driver-side O(snapshots)
    metadata, like snapshot resolution itself.
    """
    path = _materialize_orders_iceberg(spark, sf_dir)
    rows = [
        (int(s["snapshot_id"]), s["operation"]) for s in snapshots(path)
    ]
    return local_df(spark, rows, "snapshot_id long, operation string")


@query(
    "q_convert_delta_to_iceberg",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           CAST((SELECT COUNT(*) FROM orders
                 WHERE o_orderkey % 11 = 0 AND o_orderstatus = 'F')
                AS BIGINT) AS pruned_f_rows
    FROM orders
    WHERE o_orderkey % 11 = 0
    GROUP BY o_orderstatus
    """,
)
def q_convert_delta_to_iceberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only Delta→Iceberg migration: a partitioned Delta table
    (two appends) converts to Iceberg WITHOUT touching a data file —
    the new manifests reference the original parquet absolutely and
    carry the log's partitionValues. The output census reads the table
    THROUGH THE ICEBERG READER (partition columns attached from
    manifests), plus a manifest-PRUNED count of the F partition — so the
    hash check proves both lossless conversion and that pruning works on
    converted metadata. The 100 TB migration story: converting petabytes
    by rewriting them is not one.
    """
    import shutil

    from .deltalog import write_delta
    from .iceberg import convert_delta_to_iceberg

    base = _fixture_dir(sf_dir)
    dsrc = os.path.join(base, "orders_convert_delta")
    idst = os.path.join(base, "orders_converted_iceberg")
    shutil.rmtree(dsrc, ignore_errors=True)
    shutil.rmtree(idst, ignore_errors=True)
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 11 == 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    odd = F.col("o_orderkey") % 2 == 1
    write_delta(
        spark, o.filter(~odd), dsrc, mode="append",
        partition_by=("o_orderstatus",),
    )
    write_delta(
        spark, o.filter(odd), dsrc, mode="append",
        partition_by=("o_orderstatus",),
    )
    convert_delta_to_iceberg(spark, dsrc, idst)
    pruned = read_iceberg(
        spark, idst, partition_filter={"o_orderstatus": {"F"}}
    ).count()
    return (
        read_iceberg(spark, idst)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
        )
        .withColumn("pruned_f_rows", F.lit(pruned).cast("long"))
    )


@query(
    "q_convert_iceberg_to_delta",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           CAST(0 AS BIGINT) AS delta_version
    FROM orders
    WHERE o_orderkey % 13 = 0
    GROUP BY o_orderstatus
    """,
)
def q_convert_iceberg_to_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reverse metadata-only migration (CONVERT TO DELTA): an Iceberg
    table (two appends, identity-partitioned) becomes Delta version 0
    without touching a data file; the census reads the converted table
    THROUGH THE DELTA READER, partition columns re-attached from the
    log's partitionValues that were copied out of the manifests. With
    ``q_convert_delta_to_iceberg`` this closes the migration loop both
    ways — the round trip with zero data movement is pinned in
    ``tests/test_iceberg.py``.
    """
    import shutil

    from .deltalog import read_delta
    from .iceberg import convert_iceberg_to_delta

    base = _fixture_dir(sf_dir)
    isrc = os.path.join(base, "orders_convert_iceberg")
    ddst = os.path.join(base, "orders_converted_delta")
    shutil.rmtree(isrc, ignore_errors=True)
    shutil.rmtree(ddst, ignore_errors=True)
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 13 == 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    odd = F.col("o_orderkey") % 2 == 1
    write_iceberg(spark, o.filter(~odd), isrc, partition_by=("o_orderstatus",))
    write_iceberg(
        spark, o.filter(odd), isrc, mode="append",
        partition_by=("o_orderstatus",),
    )
    v = convert_iceberg_to_delta(spark, isrc, ddst)
    return (
        read_delta(spark, ddst)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
        )
        .withColumn("delta_version", F.lit(v).cast("long"))
    )


def _materialize_posdel_iceberg(spark: SparkSession, sf_dir: str) -> str:
    """customer → a format-version 2 Iceberg table with POSITION
    DELETES, shaped exactly as an external v2 writer leaves it on disk:
    one key-sorted data file, a delete manifest (manifest-list
    content=1) listing a two-column (file_path, pos) parquet that
    soft-deletes every row whose position holds a ``c_custkey % 5 == 0``
    key. Key-sorting makes positions == key ranks, which is what makes
    the fixture SQL-oracleable. Idempotent per SF."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from .iceberg import _read_avro, _write_avro, snapshot_iceberg

    def build(out: str) -> None:
        cust = (
            table(spark, sf_dir, "customer")
            .select("c_custkey", "c_acctbal", "c_mktsegment")
            .orderBy("c_custkey")
            .coalesce(1)
            .sortWithinPartitions("c_custkey")
        )
        write_iceberg(spark, cust, out)
        snap = snapshot_iceberg(out)
        (target,) = snap.files
        keys = [
            r.c_custkey
            for r in read_iceberg(spark, out).orderBy("c_custkey").select("c_custkey").collect()
        ]
        positions = [i for i, k in enumerate(keys) if k % 5 == 0]
        done = os.path.join(out, "data", "pos-delete-0.parquet")

        pq.write_table(
            pa.table(
                {
                    "file_path": pa.array([target] * len(positions), pa.string()),
                    "pos": pa.array(positions, pa.int64()),
                }
            ),
            done,
        )
        meta_dir = os.path.join(out, "metadata")
        v = int(open(os.path.join(meta_dir, "version-hint.text")).read().strip())
        md_path = os.path.join(meta_dir, f"v{v}.metadata.json")
        md = json.load(open(md_path))
        md["format-version"] = 2
        snap_md = next(
            s for s in md["snapshots"] if s["snapshot-id"] == md["current-snapshot-id"]
        )
        mlist = snap_md["manifest-list"]
        mlist_abs = mlist if os.path.isabs(mlist) else os.path.join(out, mlist)
        del_manifest = os.path.join(meta_dir, "delete-m0.avro")
        _write_avro(
            del_manifest,
            {
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
            },
            [
                (
                    1,
                    md["current-snapshot-id"],
                    {
                        "content": 1,
                        "file_path": os.path.join("data", "pos-delete-0.parquet"),
                        "file_format": "PARQUET",
                        "record_count": len(positions),
                        "file_size_in_bytes": os.path.getsize(done),
                    },
                )
            ],
        )
        rows = [
            (
                m["manifest_path"],
                m["manifest_length"],
                m["partition_spec_id"],
                m["added_snapshot_id"],
                0,
            )
            for m in _read_avro(mlist_abs)
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
        _write_avro(
            mlist_abs,
            {
                "type": "record",
                "name": "manifest_file",
                "fields": [
                    {"name": "manifest_path", "type": "string"},
                    {"name": "manifest_length", "type": "long"},
                    {"name": "partition_spec_id", "type": "int"},
                    {
                        "name": "added_snapshot_id",
                        "type": ["null", "long"],
                        "default": None,
                    },
                    {"name": "content", "type": "int"},
                ],
            },
            rows,
        )
        json.dump(md, open(md_path, "w"))

    return ensure_fixture(sf_dir, "customer_posdel_iceberg", build)


@query(
    "q_scan_iceberg_posdel",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           CAST(SUM(c_custkey) AS BIGINT) AS sum_key
    FROM customer
    WHERE c_custkey % 5 <> 0
    GROUP BY c_mktsegment
    """,
)
def q_scan_iceberg_posdel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg format-version 2 read with POSITION DELETES: the delete
    manifest's (file_path, pos) parquet soft-deletes the rows at
    ``c_custkey % 5 == 0`` positions of the key-sorted data file, and
    the scan subtracts them by anti-joining a DISTRIBUTED scan of the
    delete parquet on ``_metadata.row_index`` (round 13: the driver
    never reads a delete file — broadcast under
    ``spark.graft.dv.broadcastMaxPositions``, shuffle above; the same
    mechanism as Delta deletion vectors — q_scan_delta_dv). The
    oracle states the deletion as a
    plain predicate over the base table: identical aggregates prove the
    delete-manifest walk, the position decode, and the positional
    subtraction lost nothing. Scale: delete files are delete-count-
    sized metadata; the data path stays one pushed-down parquet scan."""
    path = _materialize_posdel_iceberg(spark, sf_dir)
    return (
        read_iceberg(spark, path)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_cust"),
            F.sum("c_custkey").cast("long").alias("sum_key"),
        )
    )


def _materialize_renamed_iceberg(spark: SparkSession, sf_dir: str) -> str:
    """customer → Iceberg table exercising field-id schema evolution:
    s1 writes the even keys under the original column names,
    rename_column_iceberg turns ``c_acctbal`` into ``account_balance``
    (metadata-only — no snapshot, no data movement), then s2 appends the
    odd keys under the NEW name. The live table mixes files written
    under both names; only parquet field-id resolution reads them as one
    column. Idempotent per SF."""
    from .iceberg import rename_column_iceberg

    def build(out: str) -> None:
        cust = table(spark, sf_dir, "customer").select(
            "c_custkey", "c_acctbal", "c_mktsegment"
        )
        write_iceberg(spark, cust.filter(F.col("c_custkey") % 2 == 0), out)
        rename_column_iceberg(out, "c_acctbal", "account_balance")
        write_iceberg(
            spark,
            cust.filter(F.col("c_custkey") % 2 == 1).withColumnRenamed(
                "c_acctbal", "account_balance"
            ),
            out,
            mode="append",
        )

    return ensure_fixture(sf_dir, "customer_renamed_iceberg", build)


@query(
    "q_iceberg_rename",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2)))
                AS DECIMAL(38,2)) AS VARCHAR) AS sum_balance
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def q_iceberg_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field-id schema evolution (ALTER … RENAME COLUMN, the Iceberg
    spec's id-remapping semantics): the fixture renames ``c_acctbal`` →
    ``account_balance`` between two appends, so the live file set mixes
    both write-time names and ONLY parquet field-id resolution
    (``parquet.field.id`` stamped at write, bound at scan) reads them as
    one column — name-based resolution would null half the table. The
    oracle aggregates the original column over the full base table:
    identical sums prove no row lost its balance across the rename.
    Scale: the rename is one metadata commit (no snapshot, no data
    movement); reads stay one pushed-down parquet scan."""
    path = _materialize_renamed_iceberg(spark, sf_dir)
    return (
        read_iceberg(spark, path)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_cust"),
            F.sum(F.col("account_balance").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .cast("string")
            .alias("sum_balance"),
        )
    )


@query(
    "q_iceberg_rollback",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
    FROM orders
    WHERE o_orderkey % 3 <> 0
    GROUP BY o_orderstatus
    """,
)
def q_iceberg_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rollback_to_snapshot: s1 writes ``o_orderkey % 3 != 0``, s2
    overwrites with a different slice, the rollback re-points
    current-snapshot-id at s1 — one metadata commit, no manifest or
    data file touched, s2 still time-travelable. The oracle restates
    s1's predicate over the base table: matching aggregates prove the
    rollback resolves exactly s1's file set through the untouched
    manifest tree. Scale: O(1) metadata IO regardless of table size."""
    from .iceberg import rollback_iceberg

    def build(out: str) -> None:
        orders = table(spark, sf_dir, "orders")
        write_iceberg(spark, orders.filter(F.col("o_orderkey") % 3 != 0), out)
        write_iceberg(
            spark,
            orders.filter(F.col("o_orderstatus") == "F"),
            out,
            mode="overwrite",
        )
        rollback_iceberg(out, 1)

    out = ensure_fixture(sf_dir, "orders_rollback_iceberg", build)
    return (
        read_iceberg(spark, out)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
        )
    )


def _materialize_eqdel_iceberg(spark: SparkSession, sf_dir: str) -> str:
    """customer → format-version 2 table with an EQUALITY delete: the
    delete manifest (seq 1, equality_ids=[1]=c_custkey) lists every key
    divisible by 11; the v1-written data files sit at data seq 0 < 1, so
    the delete applies to all of them. Idempotent per SF."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from .iceberg import _read_avro, _write_avro

    def build(out: str) -> None:
        cust = table(spark, sf_dir, "customer").select(
            "c_custkey", "c_acctbal", "c_mktsegment"
        )
        write_iceberg(spark, cust, out)
        victims = [
            r.c_custkey
            for r in cust.filter(F.col("c_custkey") % 11 == 0)
            .select("c_custkey")
            .collect()
        ]
        done = os.path.join(out, "data", "eq-delete-0.parquet")
        pq.write_table(
            pa.table({"c_custkey": pa.array(sorted(victims), pa.int64())}), done
        )
        meta_dir = os.path.join(out, "metadata")
        v = int(open(os.path.join(meta_dir, "version-hint.text")).read().strip())
        md_path = os.path.join(meta_dir, f"v{v}.metadata.json")
        md = json.load(open(md_path))
        md["format-version"] = 2
        snap_md = next(
            s for s in md["snapshots"] if s["snapshot-id"] == md["current-snapshot-id"]
        )
        mlist = snap_md["manifest-list"]
        mlist_abs = mlist if os.path.isabs(mlist) else os.path.join(out, mlist)
        del_manifest = os.path.join(meta_dir, "eq-delete-m0.avro")
        _write_avro(
            del_manifest,
            {
                "type": "record",
                "name": "manifest_entry",
                "fields": [
                    {"name": "status", "type": "int"},
                    {"name": "snapshot_id", "type": ["null", "long"], "default": None},
                    {
                        "name": "sequence_number",
                        "type": ["null", "long"],
                        "default": None,
                    },
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
            },
            [
                (
                    1,
                    md["current-snapshot-id"],
                    1,  # delete data sequence number
                    {
                        "content": 2,
                        "file_path": os.path.join("data", "eq-delete-0.parquet"),
                        "file_format": "PARQUET",
                        "record_count": len(victims),
                        "file_size_in_bytes": os.path.getsize(done),
                        "equality_ids": [1],  # c_custkey
                    },
                )
            ],
        )
        rows = [
            (
                m["manifest_path"],
                m["manifest_length"],
                m["partition_spec_id"],
                m["added_snapshot_id"],
                0,
            )
            for m in _read_avro(mlist_abs)
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
        _write_avro(
            mlist_abs,
            {
                "type": "record",
                "name": "manifest_file",
                "fields": [
                    {"name": "manifest_path", "type": "string"},
                    {"name": "manifest_length", "type": "long"},
                    {"name": "partition_spec_id", "type": "int"},
                    {
                        "name": "added_snapshot_id",
                        "type": ["null", "long"],
                        "default": None,
                    },
                    {"name": "content", "type": "int"},
                ],
            },
            rows,
        )
        json.dump(md, open(md_path, "w"))

    return ensure_fixture(sf_dir, "customer_eqdel_iceberg", build)


@query(
    "q_scan_iceberg_eqdel",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           CAST(SUM(c_custkey) AS BIGINT) AS sum_key
    FROM customer
    WHERE c_custkey % 11 <> 0
    GROUP BY c_mktsegment
    """,
)
def q_scan_iceberg_eqdel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg format-v2 read with EQUALITY deletes: the delete manifest
    (data seq 1, equality_ids = c_custkey) lists every key divisible by
    11, and the data files (seq 0 < 1) lose exactly those rows via a
    null-safe anti-join on the equality columns (broadcast while the
    manifests' record counts stay under the conf'd bound, shuffle
    fallback above — r12 ADVICE) — the spec's
    sequence-ordered application (``read_iceberg``'s class-split). The
    oracle restates the deletion as a plain predicate over the base
    table: identical aggregates prove the sequence resolution, the id →
    column binding, and the anti-join dropped exactly the deleted keys.
    Scale: one pushed-down scan per (bounded) class, delete frames are
    delete-count-sized broadcasts."""
    path = _materialize_eqdel_iceberg(spark, sf_dir)
    return (
        read_iceberg(spark, path)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_cust"),
            F.sum("c_custkey").cast("long").alias("sum_key"),
        )
    )


def _materialize_orders_iceberg_evolved(
    spark: SparkSession, sf_dir: str
) -> str:
    """orders → Iceberg table whose TWO snapshots straddle a partition
    evolution: s1 partitioned by o_orderstatus, metadata-only re-spec
    to o_orderpriority, s2 appended under the new spec."""
    from .iceberg import evolve_partition_spec

    def build(out: str) -> None:
        orders = table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
        )
        third = F.col("o_orderkey") % 3 == 0
        write_iceberg(
            spark, orders.filter(~third), out, partition_by=("o_orderstatus",)
        )
        evolve_partition_spec(out, ("o_orderpriority",))
        write_iceberg(
            spark, orders.filter(third), out, mode="append",
            partition_by=("o_orderpriority",),
        )

    return ensure_fixture(sf_dir, "orders_iceberg_evolved", build)


@query(
    "q_iceberg_partition_evolution",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                AS DECIMAL(38,2)) AS VARCHAR) AS sum_price
    FROM orders
    WHERE o_orderstatus = 'O'
      AND o_orderpriority IN ('1-URGENT', '5-LOW')
    GROUP BY o_orderpriority
    """,
)
def q_iceberg_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition evolution: the fixture re-specs the table from
    by-status to by-priority in ONE metadata-only commit
    (``evolve_partition_spec`` — no data moves), then appends under the
    new spec, so the current snapshot's files span two partition specs.
    The read resolves each file's partition columns through ITS
    manifest's spec id and scans the snapshot as a union of per-spec
    classes; the two-column ``partition_filter`` prunes each class at
    the manifest level on the column its spec covers and filters
    in-scan on the other (which lives in that class's DATA — it was a
    regular column when those files were written). The oracle restates
    both predicates as plain filters over the base table: identical
    group censuses prove the mixed-spec scan loses nothing, double
    prunes nothing, and re-attaches every identity partition value
    losslessly on both sides of the evolution. Scale: this is how a
    100 TB table changes partitioning without a rewrite.
    """
    path = _materialize_orders_iceberg_evolved(spark, sf_dir)
    return (
        read_iceberg(
            spark,
            path,
            partition_filter={
                "o_orderstatus": {"O"},
                "o_orderpriority": {"1-URGENT", "5-LOW"},
            },
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .cast("string")
            .alias("sum_price"),
        )
    )


@query(
    "q_iceberg_branch",
    oracle="""
    SELECT 'main' AS ref,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           CAST(SUM(c_custkey) AS BIGINT) AS sum_key
    FROM customer
    UNION ALL
    SELECT 'staging' AS ref,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           CAST(SUM(c_custkey) AS BIGINT) AS sum_key
    FROM customer
    WHERE c_custkey % 2 = 0
       OR (c_custkey % 2 = 1 AND c_mktsegment = 'BUILDING')
    UNION ALL
    SELECT 'v1' AS ref,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           CAST(SUM(c_custkey) AS BIGINT) AS sum_key
    FROM customer
    WHERE c_custkey % 2 = 0
    """,
)
def q_iceberg_branch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Branches and tags (the spec's ``refs`` registry): the fixture
    writes even-key customers (s1), creates branch ``staging`` and tag
    ``v1`` there (two metadata-only commits), appends the odd keys to
    MAIN, and appends the odd BUILDING customers to the BRANCH — whose
    commit carries the branch head's manifests as parent and advances
    only ``refs['staging']``, leaving main untouched. The query reads
    all three lineages (main, branch, immutable tag) and the oracle
    restates each as a predicate over the base table: identical
    censuses prove branch isolation in both directions and tag
    immutability. Branch/tag heads are GC roots for
    ``expire_snapshots``. This is write-audit-publish at 100 TB —
    every ref costs one metadata write, no data copies."""
    from .iceberg import create_ref

    def build(out: str) -> None:
        cust = table(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment", "c_acctbal"
        )
        even = F.col("c_custkey") % 2 == 0
        write_iceberg(spark, cust.filter(even), out)
        create_ref(out, "staging", "branch")
        create_ref(out, "v1", "tag")
        write_iceberg(spark, cust.filter(~even), out, mode="append")
        write_iceberg(
            spark,
            cust.filter(~even & (F.col("c_mktsegment") == "BUILDING")),
            out,
            mode="append",
            branch="staging",
        )

    out = ensure_fixture(sf_dir, "customer_iceberg_refs", build)

    def census(df: DataFrame, ref: str) -> DataFrame:
        return df.agg(
            F.count("*").cast("long").alias("n_cust"),
            F.sum("c_custkey").cast("long").alias("sum_key"),
        ).select(F.lit(ref).alias("ref"), "n_cust", "sum_key")

    return (
        census(read_iceberg(spark, out), "main")
        .unionByName(census(read_iceberg(spark, out, ref="staging"), "staging"))
        .unionByName(census(read_iceberg(spark, out, ref="v1"), "v1"))
    )


@query(
    "q_iceberg_delete_pos",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           CAST(SUM(c_custkey) AS BIGINT) AS sum_key
    FROM customer
    WHERE NOT (c_acctbal < 0)
    GROUP BY c_mktsegment
    """,
)
def q_iceberg_delete_pos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE via Iceberg POSITION DELETES (the format's
    twin of ``q_delta_delete_dv``): ``delete_where_iceberg`` writes the
    matched (file, row position) pairs as one spec-shape two-column
    delete parquet plus a DELETE manifest (content=1), upgrades the
    table to format-version 2, and rewrites ZERO data bytes — the
    parent snapshot's manifests are carried verbatim. The reader
    subtracts the positions through the shared positional anti-join.
    The oracle states the surviving predicate over the base table:
    identical aggregates prove position capture, v2 manifest encoding,
    and read-side subtraction compose to exactly a SQL DELETE.
    ``rewrite_data_files`` later folds deletes into data. Scale: the
    100 TB Iceberg deletion story — bytes of delete metadata per
    touched file instead of rewriting each."""
    from .iceberg import delete_where_iceberg

    def build(out: str) -> None:
        cust = table(spark, sf_dir, "customer").select(
            "c_custkey", "c_acctbal", "c_mktsegment"
        )
        write_iceberg(spark, cust, out)
        delete_where_iceberg(spark, out, "c_acctbal < 0")

    out = ensure_fixture(sf_dir, "customer_iceberg_mor_delete", build)
    return (
        read_iceberg(spark, out)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_cust"),
            F.sum("c_custkey").cast("long").alias("sum_key"),
        )
    )


@query(
    "q_iceberg_upsert",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           CAST(SUM(c_custkey) AS BIGINT) AS sum_key,
           CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2)))
                AS DECIMAL(38,2)) AS VARCHAR) AS sum_bal
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def q_iceberg_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read UPSERT via equality deletes (the CDC-apply shape
    real Iceberg v2 engines write): the fixture seeds the table with
    two-thirds of the customers carrying a stale sentinel balance, then
    ``upsert_iceberg`` applies the FULL customer table keyed on
    ``c_custkey`` — ONE commit holding an equality-delete file of the
    keys plus the new rows. The spec's strictly-older sequence rule
    makes the commit's own rows survive while every seeded row with a
    matching key vanishes; no pre-existing data file is read or
    rewritten. The oracle is the plain base-table census: it hashes
    green only if every stale row was replaced exactly once and every
    missing key inserted exactly once. Contrast ``q_delta_merge``'s
    COW join-and-rewrite MERGE — this is the write-amplification-free
    100 TB CDC path, folded later by ``rewrite_data_files``."""
    from .iceberg import upsert_iceberg

    def build(out: str) -> None:
        cust = table(spark, sf_dir, "customer").select(
            "c_custkey", "c_acctbal", "c_mktsegment"
        )
        seed = cust.filter(F.col("c_custkey") % 3 != 0).withColumn(
            "c_acctbal", F.lit(-999.0)
        )
        write_iceberg(spark, seed, out)
        upsert_iceberg(spark, cust, out, on=["c_custkey"])

    out = ensure_fixture(sf_dir, "customer_iceberg_upsert", build)
    return (
        read_iceberg(spark, out)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_cust"),
            F.sum("c_custkey").cast("long").alias("sum_key"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .cast("string")
            .alias("sum_bal"),
        )
    )


@query(
    "q_iceberg_partitions",
    oracle="""
    SELECT o_orderstatus,
           CAST(2 AS BIGINT) AS n_files,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q_iceberg_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``partitions`` metadata table: per-partition file/row census
    straight from the manifest tree — no data file opened. The fixture
    writes orders in TWO single-file-per-partition appends (one task
    each), so the oracle can pin the file count exactly (2 per status)
    alongside the row census; matching hashes prove record_count and
    partition values survive the write → manifest → census path
    losslessly. This is the metadata query behind compaction targeting
    and skew diagnosis at 100 TB: cost is O(manifests), never O(data).
    """
    from .iceberg import partitions_meta

    def build(out: str) -> None:
        orders = table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus"
        )
        third = F.col("o_orderkey") % 3 == 0
        write_iceberg(
            spark, orders.filter(~third).repartition(1), out,
            partition_by=("o_orderstatus",),
        )
        write_iceberg(
            spark, orders.filter(third).repartition(1), out, mode="append",
            partition_by=("o_orderstatus",),
        )

    out = ensure_fixture(sf_dir, "orders_iceberg_parts_meta", build)
    rows = [
        (
            r["partition"]["o_orderstatus"],
            int(r["n_files"]),
            int(r["n_rows"]),
        )
        for r in partitions_meta(out)
    ]
    return local_df(spark, 
        rows, "o_orderstatus string, n_files long, n_rows long"
    )


@query(
    "q_scan_iceberg_skipped",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           CAST(1 AS BIGINT) AS n_files_scanned,
           CAST(4 AS BIGINT) AS n_files_total
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1999-01-01'
    GROUP BY o_orderstatus
    """,
)
def q_scan_iceberg_skipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg DATA SKIPPING — manifest-level file pruning from the
    per-file lower/upper bounds the writer records at commit time (the
    spec's scan-planning metric; here keyed by field id with JSON
    values, collected from the parquet footer — metadata-only,
    O(files)). Four date-disjoint files; a two-year range predicate
    prunes to ONE from the manifests alone — no data file is listed or
    opened for the other three — and the oracle pins the census AND
    the scanned-file count. The Iceberg twin of
    ``q_scan_delta_skipped``: both lakehouse formats now carry the
    same stats-pruning contract (files without bounds are
    conservatively kept; the residual predicate still runs).
    """
    import shutil

    out = os.path.join(_fixture_dir(sf_dir), "orders_skipping_iceberg")
    shutil.rmtree(out, ignore_errors=True)
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderdate"
    )
    ts = lambda s: F.lit(s).cast("timestamp_ntz")  # noqa: E731
    slices = (
        o.filter(F.col("o_orderdate") < ts("1996-01-01")),
        o.filter(
            (F.col("o_orderdate") >= ts("1996-01-01"))
            & (F.col("o_orderdate") < ts("1997-01-01"))
        ),
        o.filter(
            (F.col("o_orderdate") >= ts("1997-01-01"))
            & (F.col("o_orderdate") < ts("1999-01-01"))
        ),
        o.filter(F.col("o_orderdate") >= ts("1999-01-01")),
    )
    for i, sl in enumerate(slices):
        write_iceberg(
            spark, sl.repartition(1), out,
            mode="append" if i else "overwrite",
        )
    pruned = read_iceberg(
        spark,
        out,
        bounds_filter={
            "o_orderdate": ("1997-01-01 00:00:00", "1998-12-31 23:59:59.999999")
        },
    )
    kept = pruned.select(F.input_file_name().alias("f")).distinct().count()
    from .iceberg import snapshot_iceberg

    n_total = len(snapshot_iceberg(out).files)
    return (
        pruned.filter(
            (F.col("o_orderdate") >= ts("1997-01-01"))
            & (F.col("o_orderdate") < ts("1999-01-01"))
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
        )
        .withColumn("n_files_scanned", F.lit(kept).cast("long"))
        .withColumn("n_files_total", F.lit(n_total).cast("long"))
    )


@query(
    "q_iceberg_orphans",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           CAST(2 AS BIGINT) AS n_orphans_removed
    FROM orders
    WHERE o_orderkey % 11 = 0
    GROUP BY o_orderstatus
    """,
)
def q_iceberg_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """remove_orphan_files — the Iceberg maintenance procedure that
    deletes data files NO manifest of ANY snapshot references
    (crashed-writer leftovers; this repo's own writer stages+moves
    atomically, so the fixture plants two orphans the way an external
    copy or a killed foreign writer would). The referenced set comes
    from decoding every manifest under ``metadata/`` — metadata-only,
    O(manifest entries) — and files referenced by HISTORICAL snapshots
    survive (they belong to ``q_iceberg_expire``). The oracle pins the
    removed count at exactly 2 alongside the untouched row census:
    cleanup removed the garbage and only the garbage.
    """
    import shutil

    from .iceberg import remove_orphan_files

    out = os.path.join(_fixture_dir(sf_dir), "orders_orphan_iceberg")
    shutil.rmtree(out, ignore_errors=True)
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 11 == 0)
    write_iceberg(spark, o.filter(F.col("o_orderkey") % 2 == 0), out)
    write_iceberg(
        spark, o.filter(F.col("o_orderkey") % 2 != 0), out, mode="append"
    )
    # plant two orphans: copies of a live file under fresh names, the
    # debris a crashed non-atomic writer leaves behind
    data_dir = os.path.join(out, "data")
    live = sorted(
        n for n in os.listdir(data_dir) if n.endswith(".parquet")
    )[0]
    for i in (1, 2):
        shutil.copyfile(
            os.path.join(data_dir, live),
            os.path.join(data_dir, f"orphan-{i}.parquet"),
        )
    removed = remove_orphan_files(out, retention_seconds=0.0)
    return (
        read_iceberg(spark, out)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
        )
        .withColumn("n_orphans_removed", F.lit(removed).cast("long"))
    )


@query(
    "q_scan_iceberg_timestamp",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q_scan_iceberg_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FOR TIMESTAMP AS OF — snapshot resolution from an instant via
    the snapshots' ``timestamp-ms`` (latest at-or-before; an instant
    before the first snapshot raises). The shared fixture's
    deterministic snapshot clock (timestamp-ms == snapshot id) makes
    the instant addressable in the oracle: reading at instant 2 must
    see exactly snapshot 2 — the FULL orders table, one commit before
    the F-only overwrite. The Iceberg twin of
    ``q_scan_delta_timestamp``'s commitInfo-timestamp resolution.
    """
    path = _materialize_orders_iceberg(spark, sf_dir)
    return (
        read_iceberg(spark, path, timestamp_ms=2)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
        )
    )


@query(
    "q_iceberg_agg_pushdown",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    WHERE o_orderkey % 7 = 0
    """,
)
def q_iceberg_agg_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only aggregate pushdown, Iceberg spelling: COUNT / MIN /
    MAX assembled from manifest record_count plus the per-file bounds —
    no data file listed or opened (the manifests ARE the index). The
    guard rails raise instead of answering wrong: missing bounds, or
    any v2 row-level delete in the snapshot (deleted rows may hold the
    extremes). Oracle = the same three numbers from the raw rows.
    """
    import shutil

    from .iceberg import stats_summary_iceberg

    out = os.path.join(_fixture_dir(sf_dir), "orders_aggpush_iceberg")
    shutil.rmtree(out, ignore_errors=True)
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    ).filter(F.col("o_orderkey") % 7 == 0)
    for i in range(3):
        write_iceberg(
            spark,
            o.filter(F.col("o_orderkey") % 3 == i).repartition(2),
            out,
            mode="append" if i else "overwrite",
        )
    n, mn, mx = stats_summary_iceberg(out, "o_orderkey")
    return local_df(spark, 
        [(int(n), int(mn), int(mx))],
        "n_rows long, min_key long, max_key long",
    )


@query(
    "q_iceberg_rewrite_manifests",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           CAST(3 AS BIGINT) AS manifests_before,
           CAST(1 AS BIGINT) AS manifests_after
    FROM orders
    WHERE o_orderkey % 4 = 0 AND o_totalprice <= 200000
    GROUP BY o_orderstatus
    """,
)
def q_iceberg_rewrite_manifests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest compaction (``rewrite_manifests``): three appends leave
    three data manifests plus a v2 position-delete commit; the rewrite
    merges the data manifests into ONE metadata-only ``replace``
    snapshot — no data file moves — while the delete manifest carries
    through untouched. The oracle pins the manifest counts (3 → 1) next
    to the post-delete row census, so the hash check proves the
    metadata tree shrank AND neither the live rows nor the delete's
    effect changed. The 100 TB story: planning cost tracks live files
    again instead of commit history (one manifest open per planner walk
    instead of one per append).
    """
    import shutil

    from .iceberg import delete_where_iceberg, rewrite_manifests

    out = os.path.join(_fixture_dir(sf_dir), "orders_rwmanifests_iceberg")
    shutil.rmtree(out, ignore_errors=True)
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 4 == 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    third = F.expr("(o_orderkey div 4) % 3")
    for r in range(3):
        write_iceberg(
            spark, o.filter(third == r).repartition(2), out, mode="append"
        )
    delete_where_iceberg(spark, out, "o_totalprice > 200000")
    stats = rewrite_manifests(out)
    assert stats == {
        "snapshot_id": stats["snapshot_id"],
        "manifests_before": 3,
        "manifests_after": 1,
        "entries": 6,
    }, stats
    return (
        read_iceberg(spark, out)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
        )
        .withColumn(
            "manifests_before",
            F.lit(stats["manifests_before"]).cast("long"),
        )
        .withColumn(
            "manifests_after", F.lit(stats["manifests_after"]).cast("long")
        )
    )


@query(
    "q_iceberg_expire_after_rewrite",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           CAST(4 AS BIGINT) AS n_expired,
           CAST(7 AS BIGINT) AS n_deleted_manifests,
           CAST(0 AS BIGINT) AS n_deleted_data
    FROM orders
    WHERE o_orderkey % 13 = 0 AND o_totalprice <= 150000
    GROUP BY o_orderstatus
    """,
)
def q_iceberg_expire_after_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``rewrite_manifests`` × ``expire_snapshots`` interaction
    (VERDICT r13 #7): a manifest rewrite's replace snapshot references
    brand-new consolidated manifests while every HISTORICAL snapshot
    still references the old ones — so expiring history right after a
    rewrite is the maximal-sharing GC case. Reachability must (a)
    reclaim exactly the three pre-rewrite data manifests plus the four
    expired manifest LISTS (7 metadata files), (b) keep the carried
    delete manifest, which the retained replace snapshot shares
    verbatim with the expired delete snapshot, and (c) delete ZERO data
    files — the consolidated manifest references the same parquet the
    expired snapshots did. The oracle pins all three counts next to the
    post-GC row census (position delete still applied), so the hash
    check proves the table reads identically through the rewritten +
    expired metadata tree. Companion pytest
    (``test_lakehouse_rollback.py::test_expire_after_manifest_rewrite``)
    covers the keep_last=2 shared-survival and time-travel-raises
    halves.
    """
    import shutil

    from .iceberg import (
        delete_where_iceberg,
        expire_snapshots,
        rewrite_manifests,
    )

    out = os.path.join(_fixture_dir(sf_dir), "orders_expire_rw_iceberg")
    shutil.rmtree(out, ignore_errors=True)
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 13 == 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    third = F.expr("(o_orderkey div 13) % 3")
    for r in range(3):
        write_iceberg(
            spark, o.filter(third == r).repartition(2), out, mode="append"
        )
    delete_where_iceberg(spark, out, "o_totalprice > 150000")
    rewrite_manifests(out)
    stats = expire_snapshots(out, keep_last=1)
    return (
        read_iceberg(spark, out)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
        )
        .withColumn(
            "n_expired", F.lit(stats["expired_snapshots"]).cast("long")
        )
        .withColumn(
            "n_deleted_manifests",
            F.lit(stats["deleted_manifests"]).cast("long"),
        )
        .withColumn(
            "n_deleted_data",
            F.lit(stats["deleted_data_files"]).cast("long"),
        )
    )


@query(
    "q_iceberg_manifests",
    oracle="""
    SELECT * FROM (VALUES
        ('before', CAST(3 AS BIGINT), CAST(6 AS BIGINT), CAST(0 AS BIGINT)),
        ('after',  CAST(1 AS BIGINT), CAST(6 AS BIGINT), CAST(0 AS BIGINT))
    ) AS t(phase, n_manifests, live_entries, deleted_entries)
    """,
)
def q_iceberg_manifests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``manifests`` metadata table (Iceberg's ``tbl.manifests``):
    per-manifest path/length/spec/content/entry counts from one
    metadata-only walk — the fragmentation census that tells an
    operator when ``rewrite_manifests`` is worth running. The fixture
    pins it on both sides of a rewrite: three appends → three 2-entry
    data manifests; after compaction → one 6-entry manifest, zero
    deleted entries, with the oracle hash-checking both phases.
    """
    import shutil

    from .iceberg import manifests_meta, rewrite_manifests

    out = os.path.join(_fixture_dir(sf_dir), "orders_manifests_iceberg")
    shutil.rmtree(out, ignore_errors=True)
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 4 == 0)
        .select("o_orderkey", "o_orderstatus")
    )
    third = F.expr("(o_orderkey div 4) % 3")
    for r in range(3):
        write_iceberg(
            spark, o.filter(third == r).repartition(2), out, mode="append"
        )

    def census(phase: str) -> tuple:
        rows = manifests_meta(out)
        return (
            phase,
            len(rows),
            sum(r["live_entries"] for r in rows),
            sum(r["deleted_entries"] for r in rows),
        )

    before = census("before")
    rewrite_manifests(out)
    after = census("after")
    return local_df(spark, 
        [before, after],
        "phase string, n_manifests long, live_entries long, deleted_entries long",
    )


@query(
    "q_iceberg_detail",
    oracle="""
    SELECT 'iceberg' AS format,
           CAST(2 AS BIGINT) AS format_version,
           CAST(4 AS BIGINT) AS current_snapshot_id,
           CAST(6 AS BIGINT) AS num_files,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
            WHERE o_orderkey % 4 <> 3 AND o_totalprice <= 300000) AS num_rows,
           CAST(3 AS BIGINT) AS n_data_manifests,
           CAST(1 AS BIGINT) AS n_delete_manifests,
           CAST(4 AS BIGINT) AS n_snapshots
    """,
)
def q_iceberg_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE DETAIL twin for Iceberg (``describe_detail_iceberg``;
    Delta counterpart ``q_delta_detail``): metadata-only census of the
    current snapshot, live ROW count = manifest record_counts minus v2
    position-delete cardinalities, and the manifest/snapshot registry
    shape. The fixture pins every field — three 2-file appends plus one
    MOR delete — and the oracle recomputes the surviving-row census
    from the source predicates, proving the manifest counts and the
    delete cardinalities exact to the row.
    """
    import shutil

    from .iceberg import delete_where_iceberg, describe_detail_iceberg

    out = os.path.join(_fixture_dir(sf_dir), "orders_detail_iceberg")
    shutil.rmtree(out, ignore_errors=True)
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    for r in (0, 2, 1):
        write_iceberg(
            spark,
            o.filter(F.col("o_orderkey") % 4 == r).repartition(2),
            out,
            mode="append",
        )
    delete_where_iceberg(spark, out, "o_totalprice > 300000")
    d = describe_detail_iceberg(out)
    return local_df(spark, 
        [
            (
                d["format"],
                d["format_version"],
                d["current_snapshot_id"],
                d["num_files"],
                d["num_rows"],
                d["n_data_manifests"],
                d["n_delete_manifests"],
                d["n_snapshots"],
            )
        ],
        "format string, format_version long, current_snapshot_id long, "
        "num_files long, num_rows long, n_data_manifests long, "
        "n_delete_manifests long, n_snapshots long",
    )


@query(
    "q_iceberg_posdel_fold",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           CAST(0 AS BIGINT) AS n_delete_manifests
    FROM orders
    WHERE o_orderkey % 5 = 0 AND NOT (o_totalprice > 300000)
    GROUP BY o_orderstatus
    """,
)
def q_iceberg_posdel_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MAINTENANCE half of Iceberg merge-on-read DML (round 12;
    Delta counterpart ``q_delta_dv_fold``): a position DELETE
    (``q_iceberg_delete_pos``'s write path — shards written by tasks)
    followed by ``rewrite_data_files``, which reads THROUGH the delete
    index and commits a replace snapshot carrying the survivors only —
    the new manifest list drops every DELETE manifest. The output pins
    the post-fold delete-manifest count at ZERO (oracled 0) alongside
    the surviving-row census, so the hash check proves the fold dropped
    the whole delete index without resurrecting or losing a row. At
    100 TB this is the loop that keeps the read-side positional
    anti-join small while day-to-day deletes stay metadata-cheap.
    """
    import shutil

    from .iceberg import delete_where_iceberg, manifests_meta

    out = os.path.join(_fixture_dir(sf_dir), "orders_posdelfold_iceberg")
    shutil.rmtree(out, ignore_errors=True)
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 5 == 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    write_iceberg(
        spark, o.repartition(3), out, partition_by=("o_orderstatus",)
    )
    delete_where_iceberg(spark, out, "o_totalprice > 300000")
    rewrite_data_files(spark, out, target_files=1)
    n_del = sum(
        1 for m in manifests_meta(out) if m["content"] == 1
    )
    return (
        read_iceberg(spark, out)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
        )
        .withColumn("n_delete_manifests", F.lit(n_del).cast("long"))
    )


@query(
    "q_iceberg_eqdel_fold",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           CAST(SUM(c_custkey) AS BIGINT) AS sum_key,
           CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2)))
                AS DECIMAL(38,2)) AS VARCHAR) AS sum_bal,
           CAST(0 AS BIGINT) AS n_delete_manifests
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def q_iceberg_eqdel_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQUALITY-delete fold — the maintenance half of the CDC-apply
    path, completing the delete lifecycle triple
    (``q_delta_dv_fold`` / ``q_iceberg_posdel_fold`` / this): an
    ``upsert_iceberg`` leaves one equality-delete file whose keys mask
    the seeded rows via the strictly-older sequence rule;
    ``rewrite_data_files`` reads THROUGH that mask and commits a
    replace snapshot of survivors only, whose manifest list drops the
    delete manifest entirely. The oracle pins n_delete_manifests at
    ZERO beside the full post-upsert census — hash-green only if the
    fold dropped the delete index without resurrecting a masked row or
    losing an upserted one. At 100 TB this is the compaction that keys
    CDC ingest stays cheap: upserts never rewrite data, and the
    read-side equality anti-join is periodically folded away.
    """
    import shutil

    from .iceberg import manifests_meta, upsert_iceberg

    out = os.path.join(_fixture_dir(sf_dir), "customer_eqdelfold_iceberg")
    shutil.rmtree(out, ignore_errors=True)
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    seed = cust.filter(F.col("c_custkey") % 3 != 0).withColumn(
        "c_acctbal", F.lit(-999.0)
    )
    write_iceberg(spark, seed, out)
    upsert_iceberg(spark, cust, out, on=["c_custkey"])
    rewrite_data_files(spark, out, target_files=2)
    n_del = sum(1 for m in manifests_meta(out) if m["content"] == 1)
    return (
        read_iceberg(spark, out)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_cust"),
            F.sum("c_custkey").cast("long").alias("sum_key"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .cast("string")
            .alias("sum_bal"),
        )
        .withColumn("n_delete_manifests", F.lit(n_del).cast("long"))
    )


@query(
    "q_iceberg_tag_retention",
    oracle="""
    SELECT 'tagged' AS ref,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           CAST(1 AS BIGINT) AS n_expired
    FROM orders WHERE o_orderkey % 9 = 0
    UNION ALL
    SELECT 'current' AS ref,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           CAST(1 AS BIGINT) AS n_expired
    FROM orders WHERE o_orderkey % 9 = 0 AND o_orderstatus = 'F'
    """,
)
def q_iceberg_tag_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tags as GC roots — the ref-retention rule that makes Iceberg
    tags the reproducibility primitive at 100 TB: an immutable tag on
    the full-table snapshot survives ``expire_snapshots(keep_last=1)``
    while the untagged intermediate snapshot between it and the head is
    reclaimed. The fixture writes full orders (s1, tagged
    ``audit-full``), an untagged F-only overwrite (s2), then a second
    F-only overwrite (s3, head); expiry must reclaim EXACTLY s2
    (n_expired pinned at 1), and the output reads the table twice —
    through the tag (full census) and at the head (F-only census) — so
    the hash proves the tagged snapshot's files survived the GC that
    took its untagged sibling. Companion to ``q_iceberg_branch``
    (ref addressing) and ``q_iceberg_expire`` (plain retention).
    """
    import shutil

    from .iceberg import create_ref, expire_snapshots

    out = os.path.join(_fixture_dir(sf_dir), "orders_tagret_iceberg")
    shutil.rmtree(out, ignore_errors=True)
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 9 == 0)
        .select("o_orderkey", "o_orderstatus")
    )
    f_only = o.filter(F.col("o_orderstatus") == "F")
    write_iceberg(spark, o, out)  # s1: full
    create_ref(out, "audit-full", ref_type="tag")
    write_iceberg(spark, f_only, out, mode="overwrite")  # s2: untagged
    write_iceberg(spark, f_only, out, mode="overwrite")  # s3: head
    st = expire_snapshots(out, keep_last=1)
    census = lambda df, tag: (  # noqa: E731
        df.agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
        ).select(
            F.lit(tag).alias("ref"),
            "n_orders",
            "sum_key",
            F.lit(st["expired_snapshots"]).cast("long").alias("n_expired"),
        )
    )
    tagged = census(read_iceberg(spark, out, ref="audit-full"), "tagged")
    head = census(read_iceberg(spark, out), "current")
    return tagged.unionByName(head)


@query(
    "q_iceberg_sorted_pruned",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           CAST(1 AS BIGINT) AS files_pruned
    FROM orders
    WHERE o_orderkey % 3 = 0
      AND o_orderkey <= (SELECT MAX(o_orderkey) // 8 FROM orders
                         WHERE o_orderkey % 3 = 0)
    """,
)
def q_iceberg_sorted_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PAYOFF probe for Iceberg's sort-order rewrite (Delta
    counterpart ``q_delta_zorder_pruned``): ``rewrite_data_files``
    with ``sort_by`` range-partitions the rewrite globally
    (``repartitionByRange`` + local sort), so the replace snapshot's
    per-file manifest bounds are DISJOINT on the sort column and a
    key-range probe through ``bounds_filter`` schedules strictly fewer
    files than the table holds. The output is the probe's exact row
    census THROUGH the bounds-pruned read plus ``files_pruned``
    (oracled 1) — the hash check proves the rewrite lost no rows AND
    the sorted layout actually bought manifest-level skipping. At
    100 TB this is why a sort-order rewrite follows ingest: fragmented
    appends give overlapping bounds and zero skipping; one range-split
    rewrite makes every key-range scan fractional.
    """
    import shutil

    from .iceberg import snapshot_iceberg

    out = os.path.join(_fixture_dir(sf_dir), "orders_sorted_iceberg")
    shutil.rmtree(out, ignore_errors=True)
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 3 == 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    write_iceberg(spark, o.repartition(6), out)
    rewrite_data_files(spark, out, target_files=4, sort_by=("o_orderkey",))
    cut = int(o.agg(F.expr("max(o_orderkey) div 8").alias("c")).first().c)
    pruned = read_iceberg(
        spark, out, bounds_filter={"o_orderkey": (None, cut)}
    )
    flag = (
        1
        if len(pruned.inputFiles()) < len(snapshot_iceberg(out).files)
        else 0
    )
    return (
        pruned.filter(F.col("o_orderkey") <= cut)
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
        )
        .withColumn("files_pruned", F.lit(flag).cast("long"))
    )


# ---------------------------------------------------------------------------
# round 13: foreign tables with non-identity partition transforms
# ---------------------------------------------------------------------------


from .iceberg import _murmur3_x86_32  # noqa: E402  (fixture + reader share one impl)


def _ice_bucket_long(v: int, n: int) -> int:
    """Iceberg ``bucket[N]`` of a long: murmur3 of the 8-byte
    little-endian two's-complement value, & Integer.MAX_VALUE, mod N."""
    h = _murmur3_x86_32(int(v).to_bytes(8, "little", signed=True))
    return (h & 0x7FFFFFFF) % n


_TRANSFORMS_WINDOW_HI = "1995-01-20 00:00:00"
_TRANSFORMS_PROBE_HI = "1995-01-10 00:00:00"


def _materialize_transforms_iceberg(spark: SparkSession, sf_dir: str) -> str:
    """orders (o_orderdate < 1995-01-20) → a FOREIGN-shaped Iceberg v1
    table whose partition spec uses all three non-identity transforms
    this reader supports: ``day(o_orderdate)`` as ``od_day``,
    ``bucket[4](o_custkey)`` as ``ck_bucket``, ``truncate[2]
    (o_orderpriority)`` as ``pr_trunc``. One data file per partition
    tuple (the spec's invariant: every row of a file shares its tuple),
    manifest entries carrying the tuple values, metadata JSON declaring
    the transformed spec — exactly what an external engine's
    ``PARTITIONED BY (days(ts), bucket(4, id), truncate(2, s))`` leaves
    on disk. Idempotent per SF."""
    import datetime as dt
    import json
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from .iceberg import _MANIFEST_LIST_SCHEMA, _manifest_schema, _write_avro

    def build(out: str) -> None:
        os.makedirs(os.path.join(out, "data"))
        os.makedirs(os.path.join(out, "metadata"))

        cols = [
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            "o_orderdate",
            "o_orderpriority",
        ]
        pdf = (
            table(spark, sf_dir, "orders")
            .filter(F.col("o_orderdate") < F.lit(_TRANSFORMS_WINDOW_HI).cast("timestamp_ntz"))
            .select(*cols)
            .orderBy("o_orderkey")
            .toPandas()
        )
        epoch = dt.date(1970, 1, 1)
        groups: dict[tuple, list[int]] = {}
        for i, row in pdf.iterrows():
            key = (
                (row["o_orderdate"].date() - epoch).days,
                _ice_bucket_long(int(row["o_custkey"]), 4),
                str(row["o_orderpriority"])[:2],
            )
            groups.setdefault(key, []).append(i)

        entries = []
        for (day_v, bucket_v, trunc_v), idxs in sorted(groups.items()):
            sub = pdf.loc[idxs]
            rel = os.path.join(
                "data", f"d{day_v}-b{bucket_v}-t{trunc_v.rstrip('-')}.parquet"
            )
            ap = os.path.join(out, rel)
            tbl = pa.Table.from_pandas(sub, preserve_index=False)
            # pandas hands back ns precision; Spark's vectorized reader
            # needs MICROS for a timestamp_ntz column
            i_ts = tbl.schema.get_field_index("o_orderdate")
            tbl = tbl.set_column(
                i_ts,
                "o_orderdate",
                tbl.column("o_orderdate").cast(pa.timestamp("us")),
            )
            pq.write_table(tbl, ap)
            entries.append(
                (
                    1,  # ADDED
                    1,
                    {
                        "file_path": rel,
                        "file_format": "PARQUET",
                        "partition": {
                            "od_day": str(day_v),
                            "ck_bucket": str(bucket_v),
                            "pr_trunc": trunc_v,
                        },
                        "record_count": len(idxs),
                        "file_size_in_bytes": os.path.getsize(ap),
                        "lower_bounds": None,
                        "upper_bounds": None,
                    },
                )
            )

        man_rel = os.path.join("metadata", f"{uuid.uuid4().hex}-m0.avro")
        _write_avro(
            os.path.join(out, man_rel),
            _manifest_schema(("od_day", "ck_bucket", "pr_trunc")),
            entries,
        )
        mlist_rel = os.path.join("metadata", f"snap-1-1-{uuid.uuid4().hex}.avro")
        _write_avro(
            os.path.join(out, mlist_rel),
            _MANIFEST_LIST_SCHEMA,
            [(man_rel, os.path.getsize(os.path.join(out, man_rel)), 0, 1, 0, None)],
        )

        fields = [
            {"id": i + 1, "name": c, "required": False, "type": t}
            for i, (c, t) in enumerate(
                [
                    ("o_orderkey", "long"),
                    ("o_custkey", "long"),
                    ("o_orderstatus", "string"),
                    ("o_totalprice", "double"),
                    ("o_orderdate", "timestamp"),
                    ("o_orderpriority", "string"),
                ]
            )
        ]
        spec_fields = [
            {"name": "od_day", "transform": "day", "source-id": 5, "field-id": 1000},
            {
                "name": "ck_bucket",
                "transform": "bucket[4]",
                "source-id": 2,
                "field-id": 1001,
            },
            {
                "name": "pr_trunc",
                "transform": "truncate[2]",
                "source-id": 6,
                "field-id": 1002,
            },
        ]
        schema = {"type": "struct", "schema-id": 0, "fields": fields}
        md = {
            "format-version": 1,
            "table-uuid": uuid.uuid4().hex,
            "location": os.path.abspath(out),
            "schema": schema,
            "schemas": [schema],
            "partition-spec": spec_fields,
            "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
            "default-spec-id": 0,
            "current-snapshot-id": 1,
            "snapshots": [
                {
                    "snapshot-id": 1,
                    "timestamp-ms": 1,
                    "manifest-list": mlist_rel,
                    "summary": {"operation": "append"},
                    "schema-id": 0,
                    "spec-id": 0,
                }
            ],
            "properties": {},
            "refs": {},
        }
        with open(os.path.join(out, "metadata", "v1.metadata.json"), "w") as fh:
            json.dump(md, fh)
        with open(os.path.join(out, "metadata", "version-hint.text"), "w") as fh:
            fh.write("1")

    return ensure_fixture(sf_dir, "orders_transforms_iceberg", build)


@query(
    "q_scan_iceberg_transforms",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           CAST(1 AS BIGINT) AS files_pruned
    FROM orders
    WHERE o_orderdate <= TIMESTAMP '{_TRANSFORMS_PROBE_HI}'
    GROUP BY o_orderpriority
    """,
)
def q_scan_iceberg_transforms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign Iceberg tables with NON-IDENTITY partition transforms
    (VERDICT r12 #5), read-only: ``day``/``month``/``year``/``hour``
    and ``truncate[W]`` tuples prune at the MANIFEST level (the
    transform is order-preserving, so the bound range maps through it —
    ``iceberg._transform_bound``); ``bucket[N]`` tuples are not
    order-preserving, so bucketed rows are filtered in-scan by the
    caller's predicate instead. The fixture is a spec-true foreign
    layout over ``orders`` partitioned by all three transform kinds;
    the probe reads through ``bounds_filter`` on the DAY-transformed
    timestamp and the oracle pins ``files_pruned=1`` beside the exact
    census — hash-green proves transform resolution lost no row AND the
    day tuples actually bought file skipping. Writer paths refuse
    transformed tables loudly (``_require_identity_spec``; pinned in
    tests/test_iceberg_transforms.py). Scale: a 100 TB foreign table
    partitioned hourly prunes to the probed hours at metadata cost —
    without this, every transformed lakehouse table is a full scan.
    """
    from .iceberg import snapshot_iceberg

    path = _materialize_transforms_iceberg(spark, sf_dir)
    total = len(snapshot_iceberg(path).files)
    pruned = read_iceberg(
        spark, path, bounds_filter={"o_orderdate": (None, _TRANSFORMS_PROBE_HI)}
    )
    flag = 1 if len(pruned.inputFiles()) < total else 0
    return (
        pruned.filter(
            F.col("o_orderdate")
            <= F.lit(_TRANSFORMS_PROBE_HI).cast("timestamp_ntz")
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
        )
        .withColumn("files_pruned", F.lit(flag).cast("long"))
    )


def _materialize_del_stream_iceberg(spark: SparkSession, sf_dir: str) -> str:
    """3-snapshot fixture for the skip-delete-snapshots stream
    contract: s1 appends the even-key customers, s2 soft-deletes
    ``c_acctbal < 0`` via a MOR position-delete snapshot (operation
    "delete", upgrades to v2), s3 appends the odd keys. Idempotent per
    SF."""
    from .iceberg import delete_where_iceberg

    def build(out: str) -> None:
        cust = table(spark, sf_dir, "customer").select(
            "c_custkey", "c_acctbal", "c_mktsegment"
        )
        write_iceberg(spark, cust.filter(F.col("c_custkey") % 2 == 0).coalesce(1), out)
        delete_where_iceberg(spark, out, "c_acctbal < 0")
        write_iceberg(
            spark,
            cust.filter(F.col("c_custkey") % 2 == 1).coalesce(1),
            out,
            mode="append",
        )

    return ensure_fixture(sf_dir, "customer_del_stream_iceberg", build)


@query(
    "q_stream_iceberg_skipdeletes",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           CAST(SUM(c_custkey) AS BIGINT) AS sum_key
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def q_stream_iceberg_skipdeletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``streaming-skip-delete-snapshots=true`` on the pyiceberg stream
    (the public Iceberg source option, round 13 — Delta twin:
    ``q_stream_delta_skipchanges``): row-level DELETE snapshots are
    skipped WHOLE, append snapshots stream exactly once, and a v2
    table with position deletes becomes streamable. The fixture
    interleaves a MOR delete between two appends: the drain emits both
    appends' rows exactly once (soft-deleted rows included — the stream
    is an append log and row-level changes are disregarded by
    declaration), so the oracle is the FULL customer census while the
    batch read of the same table subtracts the delete. Scale: offsets
    stay snapshot ids, a skipped delete snapshot costs one summary
    lookup — no manifest walk, no data read.
    """
    import uuid

    from .iceberg_stream import register_pyiceberg_stream

    register_pyiceberg_stream(spark)
    path = _materialize_del_stream_iceberg(spark, sf_dir)
    sink = f"stream_ice_del_{uuid.uuid4().hex[:10]}"
    stream = (
        spark.readStream.format("pyiceberg_stream")
        .option("streaming-skip-delete-snapshots", "true")
        .load(path)
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
            raise TimeoutError(
                "q_stream_iceberg_skipdeletes: drain did not finish in 120s"
            )
    finally:
        q.stop()
    return (
        spark.table(sink)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_cust"),
            F.sum("c_custkey").cast("long").alias("sum_key"),
        )
    )


@query(
    "q_stream_iceberg_fromts",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
    FROM orders
    WHERE o_orderkey % 3 = 0
    GROUP BY o_orderstatus
    """,
)
def q_stream_iceberg_fromts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``stream-from-timestamp`` on the pyiceberg stream (the public
    Iceberg source option, round 13 — Delta twin:
    ``q_stream_delta_startver``): the stream begins with the first
    snapshot committed at or after T; earlier history is not replayed.
    T is resolved from the fixture's own registry (snapshot 2's
    commit timestamp), so s1 (two-thirds of orders) is consumed-by-
    declaration, s2 (the ``o_orderkey % 3 = 0`` append) streams, and
    s3's OVERWRITE is skipped whole via
    ``streaming-skip-overwrite-snapshots`` — the drained census is
    exactly the second append, which no batch read of any single
    snapshot produces. Scale: T resolves against the snapshot registry
    (one metadata read); the skipped history costs nothing.
    """
    import json
    import uuid

    from .iceberg import _current_metadata
    from .iceberg_stream import register_pyiceberg_stream

    register_pyiceberg_stream(spark)
    path = _materialize_orders_iceberg(spark, sf_dir)
    for _attempt in range(3):
        snaps = {
            s["snapshot-id"]: int(s.get("timestamp-ms", 0))
            for s in _current_metadata(path).get("snapshots", [])
        }
        if snaps[1] < snaps[2]:
            break
        # two snapshots in the same millisecond: the timestamp cannot
        # separate them — rebuild the fixture (wall-clock stamps are
        # fresh each build; collisions across two Spark jobs are
        # near-impossible, this guard just makes the gate deterministic)
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        path = _materialize_orders_iceberg(spark, sf_dir)
    t0 = snaps[2]  # stream from the second snapshot's commit time
    sink = f"stream_ts_{uuid.uuid4().hex[:10]}"
    stream = (
        spark.readStream.format("pyiceberg_stream")
        .option("stream-from-timestamp", str(t0))
        .option("streaming-skip-overwrite-snapshots", "true")
        .load(path)
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
            raise TimeoutError(
                "q_stream_iceberg_fromts: drain did not finish in 120s"
            )
    finally:
        q.stop()
    return (
        spark.table(sink)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
        )
    )


@query(
    "q_iceberg_write_transforms",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           CAST(1 AS BIGINT) AS files_pruned
    FROM orders
    WHERE o_orderdate < TIMESTAMP '{_TRANSFORMS_WINDOW_HI}'
      AND o_orderdate <= TIMESTAMP '{_TRANSFORMS_PROBE_HI}'
    GROUP BY o_orderpriority
    """,
)
def q_iceberg_write_transforms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HIDDEN PARTITIONING on the write side (round 13, second half —
    ``q_scan_iceberg_transforms`` covers foreign reads): ``write_iceberg
    (partition_by=("day(o_orderdate)", "bucket(4, o_custkey)"))``
    computes spec-true partition tuples in the write job (epoch-day
    ints; Appendix-B murmur3 buckets via an Arrow-batched UDF), keeps
    the source columns IN the data files, and declares the transformed
    spec — the append re-derives and must match it exactly. The probe
    then reads the table THIS ENGINE wrote through a day ``bounds_
    filter``: files_pruned=1 beside the exact census proves the write-
    side tuples and the read-side transform pruning agree end to end.
    Hidden partitioning is the spec's headline feature: queries filter
    on ``o_orderdate`` and never mention the partition column, yet a
    100 TB table partitioned hourly prunes to the probed window at
    metadata cost.
    """
    import shutil

    from .iceberg import snapshot_iceberg

    out = os.path.join(_fixture_dir(sf_dir), "orders_hidden_part_iceberg")
    shutil.rmtree(out, ignore_errors=True)
    o = (
        table(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderdate") < F.lit(_TRANSFORMS_WINDOW_HI).cast("timestamp_ntz")
        )
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    spec = ("day(o_orderdate)", "bucket(4, o_custkey)")
    write_iceberg(spark, o.filter(F.col("o_orderkey") % 2 == 0), out, partition_by=spec)
    write_iceberg(
        spark,
        o.filter(F.col("o_orderkey") % 2 == 1),
        out,
        mode="append",
        partition_by=spec,
    )
    total = len(snapshot_iceberg(out).files)
    pruned = read_iceberg(
        spark, out, bounds_filter={"o_orderdate": (None, _TRANSFORMS_PROBE_HI)}
    )
    flag = 1 if len(pruned.inputFiles()) < total else 0
    return (
        pruned.filter(
            F.col("o_orderdate")
            <= F.lit(_TRANSFORMS_PROBE_HI).cast("timestamp_ntz")
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
        )
        .withColumn("files_pruned", F.lit(flag).cast("long"))
    )
