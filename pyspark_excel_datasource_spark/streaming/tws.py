"""Keyed state via Spark 4's ``transformWithStateInPandas`` — the
successor API to ``applyInPandasWithState`` (object-oriented processor,
composable typed state variables, timers). ``streaming/stateful.py``
implements the same running-totals contract on the older API; keeping
both demonstrates the migration path and pins that the two state
backends agree bit-for-bit on the exact-cents accumulation.
"""

from __future__ import annotations

import os
import sys

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..plans.registry import query

#: vendored minimal protobuf runtime (``_vendor/protoshim``): the state
#: server speaks protobuf to the Python worker, and this container has
#: no ``google.protobuf``. APPENDED to sys.path so a real protobuf
#: install always wins; workers get it via ``addPyFile`` of a zip (see
#: ``_ship_protoshim``).
_PROTOSHIM = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "_vendor",
    "protoshim",
)

try:
    import google.protobuf.descriptor  # noqa: F401
except ImportError:
    if os.path.isdir(_PROTOSHIM) and _PROTOSHIM not in sys.path:
        sys.path.append(_PROTOSHIM)

try:  # Spark 4 API + a working protobuf runtime (real or shim)
    import google.protobuf.descriptor  # noqa: F401
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    _HAVE_TWS = True
except ImportError:  # pragma: no cover - shim missing AND no protobuf
    StatefulProcessor = object
    StatefulProcessorHandle = None
    _HAVE_TWS = False


def _ship_protoshim(spark) -> None:
    """Make ``google.protobuf`` importable in Python workers: zip the
    vendored shim once per fixture root and addPyFile it (idempotent —
    Spark ignores re-adds of the same path). Workers prepend pyFiles to
    sys.path, so if a real protobuf ever lands in the image, remove the
    shim directory and this becomes a no-op."""
    import zipfile

    import google.protobuf

    if "protoshim" not in getattr(google.protobuf, "__file__", ""):
        return  # real protobuf present everywhere; nothing to ship
    # TWS spawns a schema-validation "driver worker" python process that
    # gets PYTHONPATH from the worker env, not from pyFiles — inject the
    # shim there too (captured into the UDF's PythonFunction.envVars when
    # transformWithStateInPandas builds, so call this BEFORE building)
    env = spark.sparkContext.environment
    current = env.get("PYTHONPATH", os.environ.get("PYTHONPATH", ""))
    if _PROTOSHIM not in current.split(os.pathsep):
        env["PYTHONPATH"] = (
            current + os.pathsep + _PROTOSHIM if current else _PROTOSHIM
        )
    from ..sources import excel_queries

    zip_path = os.path.join(excel_queries._FIXTURE_ROOT, "protoshim.zip")
    if not os.path.exists(zip_path):
        os.makedirs(os.path.dirname(zip_path), exist_ok=True)
        tmp = zip_path + ".tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for root, _dirs, files in os.walk(_PROTOSHIM):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        zf.write(full, os.path.relpath(full, _PROTOSHIM))
        os.replace(tmp, zip_path)
    spark.sparkContext.addPyFile(zip_path)

#: memory-sink view of the previous run (see stateful.py rationale)
_LAST_SINK: str | None = None

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_cents", T.LongType()),
    ]
)


class RunningTotals(StatefulProcessor):
    """Per-user (count, exact integer cents) accumulated across batches
    in a ValueState — same contract as ``stateful.running_totals``."""

    def init(self, handle):  # noqa: D102
        self._state = handle.getValueState(
            "totals", T.StructType(
                [
                    T.StructField("n", T.LongType()),
                    T.StructField("cents", T.LongType()),
                ]
            )
        )

    def handleInputRows(self, key, rows, timerValues):  # noqa: D102
        import numpy as np

        prev = self._state.get() if self._state.exists() else (0, 0)
        n, cents = int(prev[0]), int(prev[1])
        for pdf in rows:
            n += len(pdf)
            v = pdf["value"].to_numpy(dtype="float64") * 100.0
            # half-away-from-zero, matching SQL ROUND (see stateful.py)
            cents += int((np.sign(v) * np.floor(np.abs(v) + 0.5)).sum())
        self._state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_cents": [cents]}
        )

    def close(self):  # noqa: D102
        pass


def user_running_totals_tws(events: DataFrame) -> DataFrame:
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningTotals(),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


@query(
    "q_stream_tws",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM events
    GROUP BY user_id
    """,
)
def q_stream_tws(spark, sf_dir: str) -> DataFrame:
    """The running-totals contract of ``q_stream_stateful`` re-run on
    Spark 4's ``transformWithStateInPandas`` (StatefulProcessor +
    ValueState): same file-stream micro-batches, same exact-cents state,
    same batch-aggregate oracle — so the gate proves the OLD and NEW
    state APIs agree bit-for-bit on the accumulation, which is exactly
    the invariant a production migration between them needs.
    """
    import shutil
    import uuid

    from pyspark.sql import functions as F

    from ..sources.excel_queries import _fixture_dir

    if not _HAVE_TWS:  # pragma: no cover - shim is vendored in-repo
        raise ImportError(
            "q_stream_tws needs a protobuf runtime (real google.protobuf "
            "or the vendored _vendor/protoshim) for Spark's "
            "transformWithStateInPandas state server — neither imported"
        )
    _ship_protoshim(spark)
    src_dir = os.path.join(_fixture_dir(sf_dir), "events_stream_tws")
    src = os.path.join(sf_dir, "events.parquet")
    dst = os.path.join(src_dir, "events.parquet")
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
    out = user_running_totals_tws(stream)
    global _LAST_SINK
    if _LAST_SINK is not None:
        spark.catalog.dropTempView(_LAST_SINK)
    sink = f"stream_tws_{uuid.uuid4().hex[:10]}"
    _LAST_SINK = sink
    # transformWithState requires the RocksDB state store (ships in
    # Spark's jars); scope the provider switch to this one query so the
    # applyInPandasWithState twins keep running on the default provider
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev_provider = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        q = (
            out.writeStream.format("memory")
            .queryName(sink)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        try:
            if not q.awaitTermination(180):
                raise TimeoutError("q_stream_tws: drain did not finish in 180s")
        finally:
            q.stop()
    finally:
        if prev_provider is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev_provider)
    return (
        spark.table(sink)
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("total_cents", "n_events").alias("total_cents"),
        )
    )
