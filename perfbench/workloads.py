"""The benchmark's workloads: named request types and how each is run
and checked.

A request type is timed from the call into the package to its
materialized result. Registered queries are built through the registry
callable (``build``) and materialized with ``toArrow`` (``exec``); their
results are checked against ``golden.json``. Connector round trips call
the ``sources.*`` writer, reader and codec functions directly, one timed
step per call, and check that what they read back equals the seeded rows
they wrote.
"""

from __future__ import annotations

import hashlib
import os
import uuid
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pandas as pd
import pyarrow as pa

from datagen import connector_rows

OLAP = (
    "q_flagship_pricing",
    "q_tpch_q5ish",
    "q_join_star3",
    "q_agg_rollup",
    "q_win_frame",
    "q_topk",
    "q_join_bloom",
    "q_attribution",
    "q_skyline_pareto",
    "q_rolling_dau",
    "q_quantile_bins",
)
LLM_PIPELINE = (
    "q_dedup_minhash",
    "q_dedup_substring",
    "q_text_tfidf",
    "q_sim_topk",
    "q_sim_ann_pq",
    "q_pack_context",
    "q_graph_pagerank",
    "q_graph_common_neighbors",
    "q_classify_gd",
    "q_eval_ap",
)
CONNECTOR_QUERIES = ("q_scan_avro", "q_scan_tarshard", "q_stream_delta", "q_iceberg_delete_pos")

#: rows each connector round trip writes and reads back
CONNECTOR_ROWS = 2000
ROW_SCHEMA = "id long, name string, amount double, qty long, day timestamp"


@dataclass
class Context:
    spark: Any
    sf_dir: str
    queries: dict
    golden: dict
    work_dir: str


#: step(name, fn) -> fn(): times one call; traced runs record it as a span
Step = Callable[[str, Callable[[], Any]], Any]


@dataclass
class RequestType:
    name: str
    #: (ctx, prepared input, step) -> check; the check runs untimed
    run: Callable[[Context, Any, Step], Callable[[], bool]]
    #: (ctx, rng) -> input, made untimed before the request starts
    prepare: Callable[[Context, Any], Any] | None = None


def result_hash(table: pa.Table) -> str:
    """Order-insensitive hash of a result: column names and types, row
    count, and the wrapping sum of per-row hashes."""
    cols = sorted(table.column_names)
    frame = table.select(cols).to_pandas()
    for c in cols:
        if frame[c].dtype == object:
            frame[c] = frame[c].map(lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
    rows = int(pd.util.hash_pandas_object(frame, index=False).sum())
    schema = [(c, str(table.schema.field(c).type)) for c in cols]
    return hashlib.sha256(repr((schema, len(frame), rows)).encode()).hexdigest()


def registered(name: str) -> RequestType:
    def run(ctx: Context, _input, step: Step):
        df = step("build", lambda: ctx.queries[name](ctx.spark, ctx.sf_dir))
        table = step("exec", df.toArrow)
        return lambda: result_hash(table) == ctx.golden[name]

    return RequestType(name, run)


def _same_rows(expected: pd.DataFrame, got) -> bool:
    """Exact equality of two row sets keyed by ``id``."""
    if isinstance(got, pa.Table):
        got = got.to_pandas()
    got = got[list(expected.columns)].copy()
    got["day"] = pd.to_datetime(got["day"]).dt.tz_localize(None).astype("datetime64[us]")
    want = expected.sort_values("id").reset_index(drop=True)
    got = got.sort_values("id").reset_index(drop=True)
    return len(got) == len(want) and all(
        (want[c].to_numpy() == got[c].to_numpy()).all() for c in want.columns
    )


def _new_dir(ctx: Context) -> str:
    d = os.path.join(ctx.work_dir, uuid.uuid4().hex[:12])
    os.makedirs(d)
    return d


def _rows(_ctx: Context, rng) -> pd.DataFrame:
    return connector_rows(rng.getrandbits(32), CONNECTOR_ROWS)


def _excel_rw(ctx: Context, rows: pd.DataFrame, step: Step):
    """Excel sink, whole and chunked scans, and a file-discovery stream
    drain of the same workbook."""
    from pyspark_excel_datasource_spark.sources.excel import register_excel

    spark = ctx.spark
    register_excel(spark)
    d = _new_dir(ctx)
    path = os.path.join(d, "rows.xlsx")
    df = spark.createDataFrame(rows, ROW_SCHEMA)

    def read(**options):
        reader = spark.read.format("excel").schema(ROW_SCHEMA).option("path", path)
        for k, v in options.items():
            reader = reader.option(k, v)
        return reader.load().toArrow()

    def stream():
        batches: list[pa.Table] = []
        q = (
            spark.readStream.format("excel")
            .schema(ROW_SCHEMA)
            .option("path", d)
            .load()
            .writeStream.foreachBatch(lambda bdf, _bid: batches.append(bdf.toArrow()))
            .option("checkpointLocation", os.path.join(d, "_checkpoint"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            if not q.awaitTermination(120):
                raise TimeoutError("excel stream drain did not finish in 120 s")
        finally:
            q.stop()
        return pa.concat_tables(batches) if batches else None

    step(
        "sources.excel.sink_s",
        lambda: df.repartition(4).write.format("excel").option("path", path).mode("overwrite").save(),
    )
    whole = step("sources.excel.scan_s", read)
    chunked = step("sources.excel.scan_chunked_s", lambda: read(chunkRows=str(len(rows) // 4)))
    streamed = step("sources.excel.stream_s", stream)
    return lambda: streamed is not None and all(
        _same_rows(rows, t) for t in (whole, chunked, streamed)
    )


def _minixlsx_codec(ctx: Context, rows: pd.DataFrame, step: Step):
    """The pure codec, with no Spark: write, read back, count."""
    from pyspark_excel_datasource_spark.sources import minixlsx

    path = os.path.join(_new_dir(ctx), "codec.xlsx")
    step("sources.minixlsx.write_s", lambda: minixlsx.write_xlsx(path, rows))
    back = step("sources.minixlsx.read_s", lambda: minixlsx.read_xlsx(path))
    n = step("sources.minixlsx.count_s", lambda: minixlsx.count_data_rows(path))
    return lambda: n == len(rows) and _same_rows(rows, back)


def _delta_dml(ctx: Context, rows: pd.DataFrame, step: Step):
    """Delta write, MERGE upsert, deletion-vector DELETE, then a read."""
    from pyspark_excel_datasource_spark.sources import deltalog

    spark = ctx.spark
    path = os.path.join(_new_dir(ctx), "delta")
    upsert = rows[rows["id"] % 5 == 0].assign(amount=lambda f: f["amount"] + 1)
    inserts = rows.head(len(rows) // 10).assign(id=lambda f: f["id"] + len(rows))
    source = pd.concat([upsert, inserts], ignore_index=True)
    base, src = spark.createDataFrame(rows, ROW_SCHEMA), spark.createDataFrame(source, ROW_SCHEMA)

    step("sources.deltalog.write_s", lambda: deltalog.write_delta(spark, base, path, mode="overwrite"))
    step("sources.deltalog.merge_s", lambda: deltalog.merge_delta(spark, src, path, on=["id"]))
    step(
        "sources.deltalog.delete_s",
        lambda: deltalog.delete_where(spark, path, "qty < 100", mode="deletion-vectors"),
    )
    out = step("sources.deltalog.read_s", lambda: deltalog.read_delta(spark, path).toArrow())

    def check() -> bool:
        merged = pd.concat([rows[~rows["id"].isin(source["id"])], source], ignore_index=True)
        return _same_rows(merged[merged["qty"] >= 100], out)

    return check


CONNECTOR_RW = (
    RequestType("excel_rw", _excel_rw, _rows),
    RequestType("minixlsx_codec", _minixlsx_codec, _rows),
    RequestType("delta_dml", _delta_dml, _rows),
    *(registered(n) for n in CONNECTOR_QUERIES),
)

WORKLOADS: dict[str, tuple[RequestType, ...]] = {
    "olap": tuple(registered(n) for n in OLAP),
    "llm_pipeline": tuple(registered(n) for n in LLM_PIPELINE),
    "connector_rw": CONNECTOR_RW,
}
