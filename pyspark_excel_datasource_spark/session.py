"""SparkSession factory and per-session tuning.

Two entry points:

- :func:`get_session` — build a local session (tests / bench).
- :func:`configure` — apply the *runtime-settable* SQL confs to an
  externally-provided session (the verify driver hands us its own session, so
  everything correctness- or performance-critical must be settable here, not
  only at builder time).

Scale notes (100 TB target):

- AQE on: runtime shuffle-partition coalescing, skew-join splitting and
  dynamic join-strategy demotion are exactly the knobs that keep the same
  declarative plans working from sf0.001 to a 1000-executor cluster.
- ``spark.sql.shuffle.partitions`` is only the *initial* number under AQE;
  locally we match cores, on a cluster you'd set ~2-3x total cores and let
  AQE coalesce.
- Session timezone pinned to UTC so timestamp semantics agree with the
  DuckDB oracle (naive/UTC) regardless of host tz.
- ``spark.sql.codegen.cache.maxEntries`` is 2000, not Spark's 100. A pass
  over the 10 LLM-pipeline queries compiles ~350 distinct generated
  classes, so a 100-entry cache evicts every class before its query comes
  round again: each pass re-paid 300-350 Janino compiles and loaded
  600-700 new classes for the JIT to compile again. With 2000 a repeat
  pass compiles 0-6. 2000 holds that working set several times over. The
  cost is metaspace for the retained classes, which are no longer
  unloaded: measured on the 4-core host (perfbench ``llm_pipeline``,
  driver JVM) at 167 MB after the first repeat pass against 166 MB with
  the default, and +1.3 MB after four.
  The conf is static: it takes effect only in :func:`get_session`, not in
  :func:`configure` on a session someone else built.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: SQL confs that are runtime-settable and that every query in the registry
#: relies on. Applied idempotently by :func:`configure`.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for toPandas()/pandas_udf exchange — the fast path everywhere.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet NTZ inference must stay on so timestamp[ms/ns] (isAdjustedToUTC
    # =false) columns read as TIMESTAMP_NTZ and match the DuckDB oracle.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
    # Let Python data sources (our Excel connector) receive pushed filters.
    "spark.sql.python.filterPushdown.enabled": "true",
    # Joins (optimization guide §3.1/§9): allow the planner to pick a
    # shuffled hash join when its size conditions hold instead of always
    # sort-merge (r14 opt: −0.5s on the pair self-join headline alone),
    # and let AQE rewrite SMJ→SHJ at runtime when every post-shuffle
    # partition is small. Both are stats-guarded — on a cluster a build
    # side that cannot hash locally still plans sort-merge — so the same
    # confs hold from local bench to 100 TB.
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "64m",
    # Parquet field-id resolution (Iceberg-style schema evolution): reads
    # resolve columns by parquet.field.id METADATA when the read schema
    # carries it (only the Iceberg reader builds such schemas), and
    # writes stamp ids into the footer when the write schema carries it.
    # No-ops for every schema without the metadata.
    "spark.sql.parquet.fieldId.read.enabled": "true",
    "spark.sql.parquet.fieldId.write.enabled": "true",
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent, cheap).

    Static confs such as ``spark.sql.codegen.cache.maxEntries`` cannot be
    set here: a session handed to us keeps the values it was built with.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # A conf may be marked static in some deployments; never fail a
            # query over tuning.
            pass
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compiles of generated code so far in this session's JVM
    (Spark's ``CodegenMetrics``; a codegen-cache hit does not count)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def get_session(
    app_name: str = "pyspark_excel_datasource_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a local SparkSession tuned for this host.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all cores; shuffle
    partitions default to the same number (right-sized for local mode; AQE
    coalesces further).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # local mode = driver-only: the driver heap IS the cluster memory.
        # 32 executor threads × shuffle/agg buffers need real headroom, and
        # an undersized heap shows up as multi-second GC variance.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.pyspark.udf.faulthandler.enabled", "true")
        # Static: keep generated classes across queries (see Scale notes).
        .config("spark.sql.codegen.cache.maxEntries", "2000")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return configure(spark)
