"""Scale-technique operators: the RESULT is an ordinary join (oracled by
the driver), so these tests assert the PLAN properties that are the point
— bucketed joins shuffle nothing, salted joins change nothing."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bucketed_join_has_no_exchange(spark):
    """With broadcast disabled (forcing the plan shape two 100 TB sides
    would get), the join must consume the bucketed layout directly: a
    sort-merge join with ZERO Exchange operators."""
    from pyspark_excel_datasource_spark.plans.registry import load_all_queries

    qs = load_all_queries()
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    prev = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.set(k, "-1")
    try:
        df = qs["q_join_bucketed"](spark, SF)
        plan = _plan(df)
    finally:
        # restore exactly: unset what was unset, don't pin the fallback
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
    assert "SortMergeJoin" in plan
    assert "Bucketed: true" in plan


def test_bucketed_join_matches_plain_join(spark):
    from pyspark_excel_datasource_spark.catalog import table
    from pyspark_excel_datasource_spark.plans.registry import load_all_queries

    qs = load_all_queries()
    got = sorted(map(tuple, qs["q_join_bucketed"](spark, SF).collect()))
    o = table(spark, SF, "orders").filter(F.col("o_totalprice") > 200000.0)
    c = table(spark, SF, "customer")
    want = sorted(
        map(
            tuple,
            o.join(c, o.o_custkey == c.c_custkey)
            .select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")
            .collect(),
        )
    )
    assert got == want


def test_salted_join_bit_identical_to_unsalted(spark):
    from pyspark_excel_datasource_spark.catalog import table
    from pyspark_excel_datasource_spark.functions.determinism import canon, dsum
    from pyspark_excel_datasource_spark.plans.registry import load_all_queries

    qs = load_all_queries()
    got = {tuple(r) for r in qs["q_join_skew_salted"](spark, SF).collect()}
    li = table(spark, SF, "lineitem")
    o = table(spark, SF, "orders").filter(F.col("o_totalprice") > 100000.0)
    plain = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            canon(
                dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
            ).alias("revenue"),
        )
    )
    want = {tuple(r) for r in plain.collect()}
    assert got == want


def test_salted_join_spreads_hot_key(spark):
    """The salt must vary WITHIN one join key (that's what spreads a hot
    key over reducers) — a per-key-constant salt would pass any global
    coverage check while defeating the technique entirely."""
    from pyspark_excel_datasource_spark.operators.scale import _N_SALTS

    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter(F.col("l_orderkey").isNotNull())
        .withColumn(
            "salt",
            F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(_N_SALTS)),
        )
    )
    per_key = (
        df.groupBy("l_orderkey")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("salt").alias("n_salts"),
        )
        .filter(F.col("n_rows") >= 4)
    )
    stats = per_key.agg(
        F.count("*").alias("keys"),
        F.sum((F.col("n_salts") >= 2).cast("int")).alias("spread"),
    ).collect()[0]
    assert stats.keys > 0
    # nearly every multi-row key must hash across >= 2 salt buckets
    assert stats.spread / stats.keys >= 0.9
    assert df.select("salt").distinct().count() == _N_SALTS


def test_dpp_prunes_fact_partitions(spark):
    """The dim-side filter must become a runtime partition filter on the
    partitioned fact scan (dynamic partition pruning)."""
    import contextlib
    import io

    from pyspark_excel_datasource_spark.plans.registry import load_all_queries

    df = load_all_queries()["q_join_dpp"](spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    # and the result only contains the dim-surviving partitions
    types = {r.event_type for r in df.collect()}
    assert types == {"click", "view"}


def test_zorder_envelopes_beat_single_sort(spark):
    """Z-order files must bound BOTH dimensions: the average per-file
    envelope width on the second dimension has to be far below the
    global range (a single-column sort leaves it at ~the full range)."""
    from pyspark_excel_datasource_spark.plans.registry import load_all_queries

    rows = load_all_queries()["q_zorder_layout"](spark, SF).collect()
    assert len(rows) == 16
    assert sum(r.n_rows for r in rows) > 0
    # per-file envelope widths, both dimensions
    part_w = [r.part_hi - r.part_lo for r in rows]
    supp_w = [r.supp_hi - r.supp_lo for r in rows]
    full = 255
    assert sum(part_w) / len(part_w) < 0.75 * full
    assert sum(supp_w) / len(supp_w) < 0.75 * full


def test_interval_overlap_exactly_once_and_touching_excluded(spark):
    """The bucket-of-greatest-start guard must emit a pair sharing TWO
    buckets exactly once, and spans that merely touch (end == start) must
    not match. Hand-built fixture, compared against a brute-force join."""
    import datetime as dt

    from pyspark_excel_datasource_spark.plans.registry import load_all_queries
    import pyspark.sql.functions as F

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    # span = 10 min. a@0 and b@5: overlap spans two buckets for b.
    # a@20 and b@30: touching exactly (a ends at 30) -> no match.
    # a@40 and b@40: identical spans -> full overlap, shared buckets.
    rows = [
        (1, t0 + dt.timedelta(minutes=0), 7, "view", 1.0, "{}"),
        (2, t0 + dt.timedelta(minutes=5), 7, "click", 1.0, "{}"),
        (3, t0 + dt.timedelta(minutes=20), 7, "view", 1.0, "{}"),
        (4, t0 + dt.timedelta(minutes=30), 7, "click", 1.0, "{}"),
        (5, t0 + dt.timedelta(minutes=40), 7, "view", 1.0, "{}"),
        (6, t0 + dt.timedelta(minutes=40), 7, "click", 1.0, "{}"),
    ]
    import tempfile, os
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string"
    )
    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
        got = {
            (r.a_id, r.n_overlaps, r.total_overlap_us)
            for r in load_all_queries()["q_join_interval_overlap"](spark, d).collect()
        }
    span = 600_000_000
    assert got == {
        (1, 1, span - 5 * 60_000_000),  # a@0 x b@5: 5-min overlap, once
        (3, 0, 0),                      # touching spans excluded
        (5, 1, span),                   # identical spans: full overlap, once
    }


def test_bloom_column_memo_keeps_alternating_word_arrays(spark):
    """Two bloom word-arrays used in turn both stay memoized, so neither
    rebuilds its ~0.6 s literal; a miss evicts only entries of another
    application."""
    from pyspark_excel_datasource_spark import catalog
    from pyspark_excel_datasource_spark.operators import scale

    fact = spark.range(8).withColumnRenamed("id", "k")
    dim = spark.range(4).withColumnRenamed("id", "d")
    a = ([1] * scale._BLOOM_WORDS, 4)
    b = ([2] * scale._BLOOM_WORDS, 4)
    memo = catalog._MEMO
    memo[("bloom_column", "ended-app", (0,))] = object()
    app = spark.sparkContext.applicationId
    for arr in (a, b):
        scale.bloom_semi_join(fact, dim, "k", "d", prebuilt=arr)
    cols = [memo.get(("bloom_column", app, tuple(arr[0]))) for arr in (a, b)]
    assert all(c is not None for c in cols)
    assert ("bloom_column", "ended-app", (0,)) not in memo
    for i, arr in enumerate((a, b, a, b)):
        scale.bloom_semi_join(fact, dim, "k", "d", prebuilt=arr)
        assert memo.get(("bloom_column", app, tuple(arr[0]))) is cols[i % 2]
