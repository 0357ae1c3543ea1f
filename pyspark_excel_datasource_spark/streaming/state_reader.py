"""State Store batch reader (Spark 4 ``statestore`` / ``state-metadata``
data sources): the operational surface that opens a streaming query's
checkpointed state as an ordinary DataFrame — how production debugs
"what does the state hold right now?" without stopping the stream, and
how state is audited/migrated offline at 100 TB (state files are
per-partition, so the read parallelizes like any file scan).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import query
from ..sources.excel_queries import ensure_fixture


def _state_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Run (once per SF) a keyed streaming aggregation over the events
    table with a checkpoint, and return the checkpoint path. Built once
    (ensure_fixture), so warm runs read state without re-running the
    stream."""

    def build(root: str) -> None:
        src_dir = os.path.join(root, "src")
        os.makedirs(src_dir)
        shutil.copy(
            os.path.join(sf_dir, "events.parquet"),
            os.path.join(src_dir, "events.parquet"),
        )
        stream = (
            spark.readStream.schema("user_id long, value double")
            .format("parquet")
            .load(src_dir)
        )
        agg = stream.groupBy("user_id").agg(
            F.count("*").alias("n"),
            F.sum(F.expr("CAST(ROUND(value * 100) AS LONG)")).alias("cents"),
        )
        q = (
            agg.writeStream.format("noop")
            .outputMode("update")
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            if not q.awaitTermination(120):
                raise TimeoutError("state_reader fixture drain did not finish")
        finally:
            q.stop()

    return os.path.join(ensure_fixture(sf_dir, "state_reader", build), "ckpt")


@query(
    "q_state_reader",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM events
    GROUP BY user_id
    """,
)
def q_state_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read a streaming aggregation's CHECKPOINTED STATE back as a batch
    DataFrame via ``spark.read.format("statestore")`` and hash-match it
    against the batch aggregate the stream computed — proving the state
    files hold exactly the keyed (count, exact-cents sum) the batch
    engine derives from the same input. ``state-metadata`` is probed
    in-plan too (operator name pinned), so both halves of the Spark 4
    state-source API are exercised. At 100 TB this is the offline
    state-audit path: per-partition state files scan in parallel and
    the key/value structs project like any nested columns.
    """
    ck = _state_fixture(spark, sf_dir)
    meta = (
        spark.read.format("state-metadata")
        .load(ck)
        .filter(F.col("operatorName") == "stateStoreSave")
        .select("operatorId")
    )
    st = spark.read.format("statestore").load(ck)
    # cross join against the 1-row metadata probe: if the checkpoint ever
    # stops containing the expected stateStoreSave operator, the output
    # empties and the gate fails loudly instead of silently passing
    return st.crossJoin(F.broadcast(meta)).select(
        F.col("key.user_id").alias("user_id"),
        F.col("value.count").cast("long").alias("n_events"),
        F.col("value.sum").cast("long").alias("total_cents"),
    )
