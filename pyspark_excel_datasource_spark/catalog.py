"""Loaders for the driver-generated test tables (TESTDATA.md).

Each table is one parquet file under ``{sf_dir}/{name}.parquet``. We read
them lazily and *declaratively* (``spark.read.parquet``) so Catalyst keeps
predicate pushdown, column pruning and partition-size planning — at 100 TB
these would be multi-file datasets and the same call sites hold.
"""

from __future__ import annotations

import os
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

#: All tables the driver generates (FIXTURES.md §B).
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SMOKE_SF_DIR = "/root/testdata/sf0.001"
ORACLE_SF_DIR = "/root/testdata/sf0.01"


#: (kind, applicationId or None, key) -> value; see :func:`session_memo`.
_MEMO: dict[tuple, Any] = {}


def session_memo(kind: str, key, build: Callable[[], Any], spark: SparkSession | None = None):
    """``build()``, memoized under ``(kind, key)``: the one memo of the
    package, for values derived from inputs that do not change under it
    (the read-only testdata, write-once fixtures, content-keyed literals).

    Without ``spark`` the value must be pure Python (a schema, a count, a
    word list); it lives for the process. With ``spark`` it may hold py4j
    handles (a DataFrame, a Column), which die with their application, so
    the entry is keyed by ``spark``'s applicationId as well, and a miss
    first drops every entry of another application. Entries of the
    current application are never evicted, so callers that alternate
    between keys never rebuild. A hit costs one applicationId read."""
    app = spark.sparkContext.applicationId if spark is not None else None
    k = (kind, app, key)
    try:
        return _MEMO[k]
    except KeyError:
        pass
    if app is not None:
        # list() snapshots the keys in one step, so a thread inserting
        # meanwhile cannot break the scan
        for stale in [s for s in list(_MEMO) if s[1] is not None and s[1] != app]:
            _MEMO.pop(stale, None)
    value = _MEMO[k] = build()
    return value


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table as a DataFrame (lazy parquet scan).

    ``events.ts`` has been written by different testdata generators as either
    parquet TIMESTAMP(NANOS) — which Spark's vectorized reader rejects, so we
    read nanos as raw int64 (``spark.sql.legacy.parquet.nanosAsLong``) and
    rebuild a microsecond ``timestamp_ntz`` (the same truncation DuckDB
    applies casting TIMESTAMP_NS → TIMESTAMP) — or plain TIMESTAMP(MICROS),
    which loads directly. Branch on the *loaded* dtype so both generations of
    testdata work.

    The base DataFrame is memoized per application and path: a DataFrame
    is a lazy plan, so every action still scans the parquet files, while
    sharing the analyzed relation skips ~20 ms of DataSource resolution
    and file listing per call.
    """
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    return session_memo("table", path, lambda: _load_table(spark, name, path), spark)


def _load_table(spark: SparkSession, name: str, path: str) -> DataFrame:
    if name != "events":
        return _read_parquet(spark, path)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_parquet(spark, path)
    from pyspark.sql import functions as F

    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        # Integer DIV, not `/`: epoch-nanos exceed 2^53, double division
        # would round the microsecond.
        return df.withColumn(
            "ts", F.expr("CAST(timestamp_micros(ts DIV 1000) AS TIMESTAMP_NTZ)")
        )
    if ts_type != "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return df


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan with the schema inferred once per path: every
    ``spark.read.parquet`` re-infers it from the footer (~110 ms of
    footer IO and py4j per call), while ``read.schema(...)`` skips
    inference. Only catalog metadata is memoized; every action still
    reads the data, and the testdata dirs are read-only."""
    return spark.read.schema(
        session_memo("schema", path, lambda: spark.read.parquet(path).schema)
    ).parquet(path)


def source_read(spark: SparkSession, fmt: str, path: str, **options) -> DataFrame:
    """Python-DataSource read with the inferred schema memoized per
    (format, path, options), as in :func:`_read_parquet`: a Python
    source's ``schema()`` is a worker round trip (~130 ms measured)
    re-paid on every ``load``, while an explicit schema skips it. Use
    ONLY for write-once fixture paths (built by ``ensure_fixture``),
    where the schema cannot drift."""
    reader = spark.read.format(fmt)
    for k, v in options.items():
        reader = reader.option(k, v)
    key = (fmt, path, tuple(sorted(options.items())))
    return reader.schema(
        session_memo("schema", key, lambda: reader.load(path).schema)
    ).load(path)


def _ddl_names(schema: str) -> list[str]:
    """Top-level column names from a DDL schema string (depth-aware:
    commas inside array<>/struct<>/decimal() don't split)."""
    names: list[str] = []
    depth, cur = 0, []
    for ch in schema:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == "," and depth == 0:
            names.append("".join(cur).strip().split()[0].strip("`"))
            cur = []
        else:
            cur.append(ch)
    names.append("".join(cur).strip().split()[0].strip("`"))
    return names


def local_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Small driver-side row list → DataFrame as ONE Arrow-backed local
    partition (r15, guide §7.3/§4).

    ``spark.createDataFrame(list, schema)`` parallelizes the list into
    ``defaultParallelism`` PYTHON-pickled RDD slices: on local[32] every
    downstream materialization then pays 32 python-worker round trips
    (~0.5s wall in parallel, ~5s when a coalesce/broadcast consumes the
    slices sequentially — measured on a 1-row frame). Routing through
    pandas+Arrow plans a true single-partition LocalRelation-style scan
    with zero python tasks (~0.03s), with the DDL schema applied
    exactly as before. Use for every bounded driver-built frame
    (descriptor lists, file maps, stream partials, literal LUTs).

    The pandas frame is object-dtype so that every value reaches Arrow as
    the Python object it is and a ``None`` as NULL: with inferred dtypes,
    pandas makes an integer column holding a ``None`` float64, which
    rounds its other values above 2^53."""
    import pandas as pd

    names = _ddl_names(schema) if isinstance(schema, str) else schema.fieldNames()
    pdf = pd.DataFrame(list(rows), columns=names, dtype=object)
    return spark.createDataFrame(pdf, schema=schema)


def sf_tag(sf_dir: str) -> str:
    """Scale-factor tag for namespacing derived fixtures (bucketed tables,
    xlsx bridges, partitioned sinks) so concurrent runs at different
    sf_dirs never share a directory. Dots swapped out so the tag is safe
    in table names as well as paths."""
    return (os.path.basename(os.path.normpath(sf_dir)) or "sf").replace(".", "_")


def _size_bytes(v: str) -> int:
    """Parse a Spark size conf value ("134217728", "128m", "1g", "64MB")."""
    s = v.strip().lower()
    mult = 1
    for suf, m in (("kb", 1024), ("mb", 1024**2), ("gb", 1024**3),
                   ("k", 1024), ("m", 1024**2), ("g", 1024**3), ("b", 1)):
        if s.endswith(suf):
            s, mult = s[: -len(suf)], m
            break
    return int(s) * mult


def _estimate_scan_parts(
    spark: SparkSession, files: list[str], target: int
) -> int | None:
    """Estimate how many scan partitions Spark will plan for ``files``
    using the maxPartitionBytes/openCostInBytes packing rule. Returns
    ``None`` for non-local URIs (callers fall back to the exact RDD
    probe).

    r15 fix (VERDICT r14 #5 / ADVICE r14): the r14 estimate capped
    ``parts`` at ``len(files)``, but Spark SPLITS a large splittable
    file (parquet/orc) into multiple partitions — one 1-GB file plans
    ~8 scan tasks, not 1 — so the cap could fire a redundant
    round-robin shuffle on an already-parallel scan. The cap is gone;
    the estimate now mirrors Spark's ``FilePartition.maxSplitBytes``
    rule (min(maxPartitionBytes, max(openCost, bytesPerCore))) with
    one refinement Spark's planner does NOT make: for parquet files
    the estimate is additionally bounded by the TOTAL ROW-GROUP COUNT,
    because a planned split only produces rows when a row group starts
    inside it — a 2-MB single-row-group fixture "plans" several splits
    but scans on one core, which is exactly the skew spread() exists
    to fix. The files-per-split shortcut is likewise derived from the
    live confs instead of the hardcoded 128 MB/4 MB default ratio."""
    max_pb = _size_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    open_cost = _size_bytes(
        spark.conf.get("spark.sql.files.openCostInBytes", "4194304")
    )
    # openCost packs at most max_pb/openCost files per split, so
    # files >= that * target ⇒ splits >= target without statting
    # every file (the point of the shortcut: skip N getsize calls).
    per_split_file_cap = max(1, max_pb // max(1, open_cost))
    if len(files) >= per_split_file_cap * target:
        return len(files)
    keys = []
    total = 0
    for f in files:
        p = f
        if p.startswith("file:"):
            p = p[5:]
            while p.startswith("//"):
                p = p[1:]
        try:
            st = os.stat(p)
        except OSError:
            return None  # non-local URI: exact RDD probe instead
        total += st.st_size
        keys.append((p, st.st_size, st.st_mtime_ns))
    charged = total + open_cost * len(files)
    min_pn = spark.conf.get("spark.sql.files.minPartitionNum", None) or spark.conf.get(
        "spark.sql.leafNodeDefaultParallelism", None
    )
    min_pn = int(min_pn) if min_pn else spark.sparkContext.defaultParallelism
    bytes_per_core = charged // max(1, min_pn)
    max_split = min(max_pb, max(open_cost, bytes_per_core))
    est = -(-charged // max(1, max_split))
    if est > 1 and all(k[0].endswith(".parquet") for k in keys):
        try:
            est = min(est, sum(_row_groups(k) for k in keys))
        except Exception:
            pass  # unreadable footer: keep the byte-based estimate
    return max(1, est)


def _row_groups(key: tuple[str, int, int]) -> int:
    """Row-group count of the parquet file ``key[0]``, memoized per
    (path, size, mtime_ns), so a rewritten file is a miss."""
    import pyarrow.parquet as papq

    return session_memo(
        "row_groups", key, lambda: papq.ParquetFile(key[0]).metadata.num_row_groups
    )


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition a narrow input up to cluster parallelism.

    Small single-file tables arrive as ONE partition (one row group), so a
    CPU-heavy per-row stage (shingling, vector math) would run on one core
    no matter how many the session has. The shuffle cost is the raw bytes
    of a small table — trivially worth it. No-op when the input is already
    parallel enough. At 100 TB inputs are thousands of splits and this
    never fires.

    r14 opt: the parallelism probe estimates scan splits from the file
    metadata Spark already holds (``df.inputFiles()`` + the
    maxPartitionBytes/openCostInBytes packing rule) instead of forcing a
    full physical plan + RDD conversion per call (``df.rdd`` measured
    ~40 ms warm, ~0.7 s cold, × 36 call sites). Borderline estimates only
    add or skip one cheap repartition of a small input — every query's
    result is partition-count-invariant (pinned by the cluster-shape
    sweep). Frames without file sources keep the exact RDD probe.
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    parts: int | None = None
    try:
        files = df.inputFiles()
        if files:
            parts = _estimate_scan_parts(spark, files, target)
    except Exception:
        parts = None
    if parts is None:
        parts = df.rdd.getNumPartitions()
    if parts >= target:
        return df
    return df.repartition(target)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL API."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
