"""Custom stateful streaming operator via ``applyInPandasWithState``.

The reference's streaming layer carries no state at all beyond a seen-files
set (reference ``connector.py:211-213``); this module shows the engine-side
pattern for arbitrary keyed state: a running per-user aggregate whose state
(count + exact value cents) survives across micro-batches and is updated
incrementally — the building block for sessionization, CDC folds, and
online feature accumulation at scale (state lives in the state store,
partitioned by key; each micro-batch touches only keys with new data).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..plans.registry import query

#: memory-sink view of the previous q_stream_stateful run (dropped on
#: the next invocation to bound driver memory across repeated runs)
_LAST_SINK: str | None = None

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_cents", T.LongType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("cents", T.LongType()),
    ]
)


def running_totals(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state
) -> Iterator[pd.DataFrame]:
    """Accumulate (count, exact integer cents) per user across batches.

    Cents rounding is half-away-from-zero (sign * floor(|v|+0.5)), NOT
    pandas' default half-to-even — SQL ROUND (the oracle's spelling)
    rounds halves away from zero, and the two differ on any value whose
    cents land exactly on .5 (e.g. 0.125 * 100).
    """
    import numpy as np

    n, cents = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        v = pdf["value"].to_numpy(dtype="float64") * 100.0
        cents += int((np.sign(v) * np.floor(np.abs(v) + 0.5)).sum())
    state.update((n, cents))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_cents": [cents]}
    )


def user_running_totals(events: DataFrame) -> DataFrame:
    """events(user_id, value, ...) stream → per-user running totals.

    Works on a streaming DataFrame (state store backed); the exact-cents
    accumulation keeps totals integer-deterministic regardless of batch
    boundaries.
    """
    return events.groupBy("user_id").applyInPandasWithState(
        running_totals,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


@query(
    "q_stream_stateful",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM events
    GROUP BY user_id
    """,
)
def q_stream_stateful(spark, sf_dir: str) -> DataFrame:
    """Run the keyed-state operator on a REAL micro-batch stream and
    return the final per-user totals.

    The events parquet feeds a file stream (columns pruned via the read
    schema, so the ns-timestamp column is never touched), the state store
    accumulates (count, exact integer cents) per user, and the drain uses
    availableNow. The final state equals the batch aggregate whatever the
    batch boundaries were — exact-cents accumulation is associative — so
    the memory sink's update rows reduce to the oracle's plain GROUP BY
    via argmax on the monotone event count.
    """
    import os
    import shutil
    import uuid

    from pyspark.sql import functions as F

    from ..sources.excel_queries import _fixture_dir

    src_dir = os.path.join(_fixture_dir(sf_dir), "events_stream")
    src = os.path.join(sf_dir, "events.parquet")
    dst = os.path.join(src_dir, "events.parquet")
    # freshness check by (size, mtime), not a one-shot marker: a
    # regenerated testdata fixture must invalidate the streamed copy or
    # the stream reads stale data while the oracle reads the new file.
    s = os.stat(src)
    if not (
        os.path.exists(dst)
        and os.stat(dst).st_size == s.st_size
        and os.stat(dst).st_mtime >= s.st_mtime
    ):
        os.makedirs(src_dir, exist_ok=True)
        shutil.copy(src, dst)

    stream = (
        spark.readStream.schema("user_id long, value double")
        .format("parquet")
        .load(src_dir)
    )
    out = user_running_totals(stream)
    # unique sink per run (a reused memory-sink name accumulates rows),
    # but drop the PREVIOUS run's view so repeated invocations in one
    # session don't leak collected batches in driver memory
    global _LAST_SINK
    if _LAST_SINK is not None:
        spark.catalog.dropTempView(_LAST_SINK)
    sink = f"stream_stateful_{uuid.uuid4().hex[:10]}"
    _LAST_SINK = sink
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(180):
            raise TimeoutError("q_stream_stateful: drain did not finish in 180s")
    finally:
        q.stop()
    return (
        spark.table(sink)
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("total_cents", "n_events").alias("total_cents"),
        )
    )


RATE_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("bucket", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("nth_in_window", T.IntegerType()),
    ]
)

RATE_STATE_SCHEMA = T.StructType([T.StructField("n", T.LongType())])


def make_rate_limiter(max_per_window: int):
    """applyInPandasWithState body factory: per (user, window-bucket) keep
    the first ``max_per_window`` events in (ts, event_id) order; state is
    ONE integer (events admitted so far) — the counter survives across
    micro-batches, so a key that exhausts its budget in batch 1 admits
    nothing in batch 2 (the property the batch-mode window rank cannot
    express incrementally)."""

    def limiter(key, pdfs, state):
        import pandas as pd  # noqa: PLC0415 (executor-side import)

        (n,) = state.get if state.exists else (0,)
        out = []
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            for ev in pdf["event_id"]:
                if n < max_per_window:
                    n += 1
                    out.append((key[0], key[1], int(ev), int(n)))
        state.update((int(n),))
        yield pd.DataFrame(
            out, columns=["user_id", "bucket", "event_id", "nth_in_window"]
        )

    return limiter


def rate_limited_stream(events, max_per_window: int):
    """events stream (user_id, event_id, ts) → admitted events, at most
    ``max_per_window`` per user per 10-minute event-time bucket. The
    streaming twin of ``streaming/windows.q_stream_rate_limit`` (whose
    batch form the DuckDB oracle hash-checks); equality of the two is
    pinned by ``tests/test_streaming.py``."""
    from pyspark.sql import functions as F

    bucket = (F.unix_micros(F.col("ts").cast("timestamp")) / 600_000_000).cast(
        "long"
    )
    return (
        events.withColumn("bucket", bucket)
        .groupBy("user_id", "bucket")
        .applyInPandasWithState(
            make_rate_limiter(max_per_window),
            outputStructType=RATE_OUTPUT_SCHEMA,
            stateStructType=RATE_STATE_SCHEMA,
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )
