"""Depth extras: range-frame windows, exact percentiles, histogram
bucketing, and a partitioned parquet sink with partition-pruned readback.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..catalog import table
from ..functions.determinism import canon, dround, sql_canon, sql_dround
from ..plans.registry import query
from ..sources.excel_queries import _fixture_dir, ensure_fixture


@query(
    "q_win_range_frame",
    oracle="""
    SELECT s_suppkey, s_nationkey, s_acctbal,
           COUNT(*) OVER (PARTITION BY s_nationkey ORDER BY s_acctbal
                          RANGE BETWEEN 1000.0 PRECEDING AND 1000.0 FOLLOWING)
               AS n_within_1k,
           CAST(CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2)))
                OVER (PARTITION BY s_nationkey ORDER BY s_acctbal
                      RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW)
                AS DECIMAL(38,2)) AS VARCHAR) AS sum_below_1k
    FROM supplier
    """,
)
def q_win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame windows (value-based bounds — the rowsBetween variant
    SURVEY §2.3 calls out). Peer rows with equal ordering values share
    frame results, so no tiebreak is needed for determinism."""
    s = table(spark, sf_dir, "supplier")
    wboth = (
        W.partitionBy("s_nationkey")
        .orderBy(F.col("s_acctbal").asc())
        .rangeBetween(-1000, 1000)
    )
    wbelow = (
        W.partitionBy("s_nationkey")
        .orderBy(F.col("s_acctbal").asc())
        .rangeBetween(-1000, W.currentRow)
    )
    return s.select(
        "s_suppkey",
        "s_nationkey",
        "s_acctbal",
        F.count("*").over(wboth).alias("n_within_1k"),
        canon(
            F.sum(F.col("s_acctbal").cast("decimal(18,2)"))
            .over(wbelow)
            .cast("decimal(38,2)")
        ).alias("sum_below_1k"),
    )


@query(
    "q_agg_percentile",
    oracle=f"""
    SELECT l_returnflag,
           {sql_canon(sql_dround('QUANTILE_CONT(l_extendedprice, 0.5)', 4))}
               AS median_price,
           {sql_canon(sql_dround('QUANTILE_CONT(l_extendedprice, 0.9)', 4))}
               AS p90_price,
           {sql_canon(sql_dround('QUANTILE_CONT(l_quantity, 0.25)', 4))} AS q1_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark ``percentile`` ==
    DuckDB ``quantile_cont``: both linear interpolation over the sorted
    group). At 100 TB prefer ``percentile_approx`` (q_agg_approx) — exact
    percentiles sort each group."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        canon(dround(F.percentile("l_extendedprice", 0.5), 4)).alias("median_price"),
        canon(dround(F.percentile("l_extendedprice", 0.9), 4)).alias("p90_price"),
        canon(dround(F.percentile("l_quantity", 0.25), 4)).alias("q1_qty"),
    )


@query(
    "q_agg_histogram",
    oracle="""
    SELECT CAST(FLOOR(o_totalprice / 50000.0) AS INT) AS bucket,
           COUNT(*) AS n_orders,
           MIN(o_totalprice) AS lo,
           MAX(o_totalprice) AS hi
    FROM orders
    GROUP BY 1
    """,
)
def q_agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram via arithmetic bucketing (the scalable way —
    a single partial+final aggregation, no sort, any cardinality)."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.floor(F.col("o_totalprice") / 50000.0).cast("int").alias("bucket")
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


@query(
    "q_sink_parquet_partitioned",
    oracle="""
    SELECT event_id, user_id, value
    FROM events WHERE event_type = 'purchase'
    """,
)
def q_sink_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet sink + partition-pruned readback.

    Writes events partitioned by event_type, then reads ONE partition
    back — the readback scan lists only ``event_type=purchase/`` (shown as
    PartitionFilters in the plan). This is the layout decision that turns
    a 100 TB scan into a directory listing.

    The sink path is namespaced by the scale-factor tag so concurrent runs
    at different sf_dirs (tests at sf0.001, driver at sf0.01) never race
    on one directory.
    """
    out = os.path.join(_fixture_dir(sf_dir), "events_by_type")
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "event_type"
    )
    (
        ev.write.mode("overwrite")
        .partitionBy("event_type")
        .parquet(out)
    )
    return (
        spark.read.parquet(out)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "value")
    )


@query(
    "q_win_cume",
    oracle="""
    SELECT c_custkey, c_nationkey, c_acctbal,
           CUME_DIST() OVER w AS cume,
           PERCENT_RANK() OVER w AS pct_rank,
           CAST(NTILE(4) OVER w AS INT) AS quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    """,
)
def q_win_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (cume_dist / percent_rank / ntile).

    Both are ratios of exact integer ranks over exact counts — one IEEE
    division of identical operands per row, so no rounding is needed."""
    from pyspark.sql.window import Window as W

    c = table(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc()
    )
    return c.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.cume_dist().over(w).alias("cume"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
    )


@query(
    "q_agg_argmax",
    oracle="""
    SELECT o_orderpriority,
           ARG_MAX(o_orderkey,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) * 4294967296
                   + o_orderkey) AS biggest_order_key,
           MAX(o_totalprice) AS biggest_order_price,
           ARG_MIN(o_orderkey,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) * 4294967296
                   + o_orderkey) AS smallest_order_key
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by / min_by (argmax aggregates) with a tie-proof ordering key.

    Bare ``max_by(key, price)`` is engine-arbitrary on price ties. The
    composite ``price_cents * 2^32 + orderkey`` packs (price, key) into one
    exact BIGINT — lexicographic, overflow-free (cents < 2^26 here), and
    identical in both engines, so the survivor is deterministic by
    construction rather than by data luck."""
    o = table(spark, sf_dir, "orders")
    ord_key = (
        F.round(F.col("o_totalprice") * 100).cast("long") * F.lit(2**32)
        + F.col("o_orderkey")
    )
    return o.groupBy("o_orderpriority").agg(
        F.max_by("o_orderkey", ord_key).alias("biggest_order_key"),
        F.max("o_totalprice").alias("biggest_order_price"),
        F.min_by("o_orderkey", ord_key).alias("smallest_order_key"),
    )


@query(
    "q_fn_bitwise",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(l_orderkey & 255 AS BIGINT) AS key_low_byte,
           CAST(l_orderkey | 1 AS BIGINT) AS key_odd,
           CAST(XOR(l_orderkey, l_partkey) AS BIGINT) AS key_xor,
           CAST(l_orderkey << 2 AS BIGINT) AS key_shl,
           CAST(l_orderkey >> 3 AS BIGINT) AS key_shr,
           CAST(BIT_COUNT(l_orderkey) AS INT) AS key_bits
    FROM lineitem
    WHERE l_orderkey < 1000
    """,
)
def q_fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise expression family (the building blocks the SimHash/LSH
    operators use in anger)."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 1000)
    k = F.col("l_orderkey")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        k.bitwiseAND(F.lit(255)).cast("long").alias("key_low_byte"),
        k.bitwiseOR(F.lit(1)).cast("long").alias("key_odd"),
        k.bitwiseXOR(F.col("l_partkey")).cast("long").alias("key_xor"),
        F.shiftleft(k, 2).cast("long").alias("key_shl"),
        F.shiftright(k, 3).cast("long").alias("key_shr"),
        F.bit_count(k).cast("int").alias("key_bits"),
    )


@query(
    "q_fn_editdist",
    oracle="""
    SELECT p_partkey,
           CAST(LEVENSHTEIN(STRING_SPLIT(p_name, ' ')[1],
                            STRING_SPLIT(p_name, ' ')[-1]) AS INT)
               AS name_span_dist,
           CAST(LEVENSHTEIN(p_brand, p_type) AS INT) AS brand_type_dist,
           CAST(LEVENSHTEIN(p_type, 'PROMO BURNISHED COPPER') AS INT)
               AS type_ref_dist
    FROM part
    WHERE p_partkey < 500
    """,
)
def q_fn_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance function family (the fuzzy-matching primitive behind
    entity resolution / blocking joins). Levenshtein is exact-integer in
    both engines, so the oracle is bit-trivial."""
    p = table(spark, sf_dir, "part").filter(F.col("p_partkey") < 500)
    words = F.split(F.col("p_name"), " ")
    return p.select(
        "p_partkey",
        F.levenshtein(
            F.element_at(words, 1), F.element_at(words, -1)
        ).cast("int").alias("name_span_dist"),
        F.levenshtein("p_brand", "p_type").cast("int").alias("brand_type_dist"),
        F.levenshtein(F.col("p_type"), F.lit("PROMO BURNISHED COPPER"))
        .cast("int")
        .alias("type_ref_dist"),
    )


@query(
    "q_agg_mode",
    oracle="""
    SELECT l_returnflag, qty AS mode_qty, n AS mode_count
    FROM (
        SELECT l_returnflag, l_quantity AS qty, COUNT(*) AS n,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                  ORDER BY COUNT(*) DESC, l_quantity ASC) AS rn
        FROM lineitem
        GROUP BY l_returnflag, l_quantity
    ) WHERE rn = 1
    """,
)
def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode (most frequent value, smallest-value tiebreak).

    Built-in ``mode()`` is engine-arbitrary on ties in BOTH engines, so
    this spells mode as count + windowed argmax with an explicit
    tiebreak — the same two-shuffle shape, reproducible everywhere."""
    li = table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", F.col("l_quantity").alias("qty")).agg(
        F.count("*").alias("n")
    )
    w = W.partitionBy("l_returnflag").orderBy(F.col("n").desc(), F.col("qty").asc())
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_returnflag", F.col("qty").alias("mode_qty"), F.col("n").alias("mode_count"))
    )


#: GK sketch accuracy parameter → rank error ≤ N/_GK_ACCURACY per group.
_GK_ACCURACY = 10000


@query(
    "q_agg_approx_quantile",
    oracle="""
    SELECT l_returnflag,
           COUNT(l_extendedprice) AS n,
           TRUE AS ok_p50, TRUE AS ok_p90, TRUE AS ok_p99
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles via ``approx_percentile`` (Greenwald-Khanna
    sketch, JVM-side, mergeable partials) — the scale companion to the
    exact ``q_agg_percentile``: at 100 TB the exact rank requires a full
    sort-or-shuffle per group, while the sketch is one pass with bounded
    (accuracy-parameter-sized) state per partition, merged map-side.

    Estimates are algorithm-specific, so raw estimates can't be
    hash-compared against another engine. Instead the query *verifies the
    sketch's contract in-plan* and emits the verdict: for each percentile
    p, the estimate's rank in the group must lie within the GK guarantee
    ``[(p - eps)·N, (p + eps)·N]`` with ``eps = 1/accuracy`` (ties
    handled by checking ``count(x < est)`` against the upper bound and
    ``count(x <= est)`` against the lower). The DuckDB oracle reproduces
    the group sizes exactly and asserts the verdict columns TRUE — so a
    sketch regression (or a broken bound) flips a hash-checked value.

    Plan shape: one pass builds the sketches (partial+final agg), the
    3-row estimate frame broadcasts back onto the scan for the rank
    counts — both aggregations are map-side-combined; no sort anywhere.
    """
    li = table(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    est = li.groupBy("l_returnflag").agg(
        F.expr(
            f"approx_percentile(l_extendedprice, array(0.5, 0.9, 0.99),"
            f" {_GK_ACCURACY})"
        ).alias("q")
    )
    probed = li.join(F.broadcast(est), "l_returnflag")
    ranks = probed.groupBy("l_returnflag").agg(
        F.count("l_extendedprice").alias("n"),
        *[
            agg
            for i in range(3)
            for agg in (
                F.sum(
                    (F.col("l_extendedprice") <= F.col("q")[i]).cast("long")
                ).alias(f"le_{i}"),
                F.sum(
                    (F.col("l_extendedprice") < F.col("q")[i]).cast("long")
                ).alias(f"lt_{i}"),
            )
        ],
    )
    eps = 1.0 / _GK_ACCURACY
    cols = [F.col("l_returnflag"), F.col("n")]
    for i, p in enumerate((0.5, 0.9, 0.99)):
        lo = F.floor((F.lit(p) - F.lit(eps)) * F.col("n")) - 1
        hi = F.ceil((F.lit(p) + F.lit(eps)) * F.col("n")) + 1
        cols.append(
            ((F.col(f"le_{i}") >= lo) & (F.col(f"lt_{i}") <= hi)).alias(
                f"ok_p{int(p * 100)}"
            )
        )
    return ranks.select(*cols)


@query(
    "q_regression_by_group",
    oracle="""
    WITH s AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,0)))
                         AS DECIMAL(38,0)) AS DOUBLE) AS sx,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                         AS DECIMAL(38,2)) AS DOUBLE) AS sy,
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,0))
                             * CAST(l_extendedprice AS DECIMAL(18,2)))
                         AS DECIMAL(38,2)) AS DOUBLE) AS sxy,
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,0))
                             * CAST(l_quantity AS DECIMAL(18,0)))
                         AS DECIMAL(38,0)) AS DOUBLE) AS sxx
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
           sy / n - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * (sx / n)
               AS intercept
    FROM s
    """,
)
def q_regression_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary least squares (price ~ quantity per return
    flag) in closed form from sufficient statistics — the scalable way
    to fit millions of small regressions: one aggregation pass collects
    (n, Σx, Σy, Σxy, Σx²) with map-side partials, the fit is a pure
    projection. No iteration, no driver involvement.

    Determinism: every sum is an exact decimal (order-independent);
    slope/intercept then assemble from those exact values through a
    FIXED scalar double expression tree — identical IEEE ops in both
    engines, so results are bit-equal with no rounding convention
    needed.
    """
    li = table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,0)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(x).cast("decimal(38,0)").cast("double").alias("sx"),
        F.sum(y).cast("decimal(38,2)").cast("double").alias("sy"),
        F.sum(x * y).cast("decimal(38,2)").cast("double").alias("sxy"),
        F.sum(x * x).cast("decimal(38,0)").cast("double").alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        slope.alias("slope"),
        (F.col("sy") / F.col("n") - slope * (F.col("sx") / F.col("n"))).alias(
            "intercept"
        ),
    )


def _evolving_fixture_dir(sf_dir: str) -> str:
    """Two-generation parquet layout: generation A (even order keys) was
    written before ``o_orderpriority`` existed; generation B (odd keys)
    carries it. Derived deterministically from orders.parquet via pyarrow
    (no Spark jobs), namespaced by sf tag, built once (ensure_fixture)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    def build(out: str) -> None:
        os.makedirs(out)
        t = pq.read_table(
            os.path.join(sf_dir, "orders.parquet"),
            columns=["o_orderkey", "o_totalprice", "o_orderpriority"],
        )
        odd = pc.equal(pc.bit_wise_and(t["o_orderkey"], 1), 1)
        pq.write_table(
            t.filter(pc.invert(odd)).drop_columns(["o_orderpriority"]),
            os.path.join(out, "gen_a.parquet"),
        )
        pq.write_table(t.filter(odd), os.path.join(out, "gen_b.parquet"))

    return ensure_fixture(sf_dir, "evolving", build)


@query(
    "q_scan_evolving",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END
               AS o_orderpriority
    FROM orders
    """,
)
def q_scan_evolving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution scan: files written before a column existed read
    together with files written after, via ``mergeSchema`` — old files
    surface NULL for the added column.

    The data-lake reality at 100 TB: a corpus accretes for years and
    columns get added; requiring a rewrite of every old file would cost
    more than the pipeline itself. Schema merge happens at PLANNING time
    (footer union), so the scan itself stays an ordinary columnar read
    with pushdown intact.
    """
    src = _evolving_fixture_dir(sf_dir)
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(src)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
    )


@query(
    "q_win_median",
    oracle=f"""
    SELECT user_id, event_id,
           {sql_canon(sql_dround('MEDIAN(value) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)', 6))}
               AS med5
    FROM events
    """,
)
def q_win_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling exact median over a trailing 5-row frame per user — the
    robust-smoothing twin of a moving average (outlier-insensitive).

    Exact median as a WINDOW aggregate is something sketch-based systems
    refuse; Spark evaluates it per frame after the single per-key sort
    (as ``percentile(value, 0.5)`` — Spark's ``median`` alias rejects
    explicit frames, the underlying percentile does not). Even-count
    frames interpolate the middle pair identically in both engines
    ((a+b)/2 of identical doubles); rounded to 6 per the determinism
    convention anyway.
    """
    ev = table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        canon(dround(F.expr("percentile(value, 0.5D)").over(w), 6)).alias("med5"),
    )


@query(
    "q_winsorize_by_group",
    oracle=f"""
    WITH b AS (
        SELECT source,
               QUANTILE_CONT(n_chars, 0.05) AS lo,
               QUANTILE_CONT(n_chars, 0.95) AS hi
        FROM documents GROUP BY source
    )
    SELECT d.doc_id, d.source, d.n_chars,
           {sql_canon(sql_dround("LEAST(GREATEST(CAST(d.n_chars AS DOUBLE), b.lo), b.hi)", 6))}
               AS winsorized,
           CAST(d.n_chars AS DOUBLE) < b.lo AS clipped_low,
           CAST(d.n_chars AS DOUBLE) > b.hi AS clipped_high
    FROM documents d JOIN b USING (source)
    """,
)
def q_winsorize_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise winsorization: clamp a numeric feature to its per-group
    [p05, p95] band — the robust-scaling step that tames outlier document
    lengths before quality scoring or mixture weighting.

    Plan: one exact-percentile aggregate per group (|sources| rows), then
    a BROADCAST join of those bounds back onto the corpus and a stateless
    clamp — no second shuffle of the data. At 100 TB swap the exact
    percentile for ``approx_percentile`` partials (same downstream
    shape); both engines interpolate quantiles as lower+(upper-lower)*g
    on identical doubles, and presentation goes through canon(dround).
    """
    d = table(spark, sf_dir, "documents")
    bounds = d.groupBy("source").agg(
        F.expr("percentile(n_chars, 0.05)").alias("lo"),
        F.expr("percentile(n_chars, 0.95)").alias("hi"),
    )
    n = F.col("n_chars").cast("double")
    clamped = F.least(F.greatest(n, F.col("lo")), F.col("hi"))
    return (
        d.join(F.broadcast(bounds), "source")
        .select(
            "doc_id",
            "source",
            "n_chars",
            canon(dround(clamped, 6)).alias("winsorized"),
            (n < F.col("lo")).alias("clipped_low"),
            (n > F.col("hi")).alias("clipped_high"),
        )
    )


@query(
    "q_corr_matrix",
    oracle="""
    WITH s AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,0)))
                         AS DECIMAL(38,0)) AS DOUBLE) AS sq,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                         AS DECIMAL(38,2)) AS DOUBLE) AS sp,
               CAST(CAST(SUM(CAST(l_discount AS DECIMAL(18,2)))
                         AS DECIMAL(38,2)) AS DOUBLE) AS sd,
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,0))
                             * CAST(l_quantity AS DECIMAL(18,0)))
                         AS DECIMAL(38,0)) AS DOUBLE) AS sqq,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                             * CAST(l_extendedprice AS DECIMAL(18,2)))
                         AS DECIMAL(38,4)) AS DOUBLE) AS spp,
               CAST(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))
                             * CAST(l_discount AS DECIMAL(18,2)))
                         AS DECIMAL(38,4)) AS DOUBLE) AS sdd,
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,0))
                             * CAST(l_extendedprice AS DECIMAL(18,2)))
                         AS DECIMAL(38,2)) AS DOUBLE) AS sqp,
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,0))
                             * CAST(l_discount AS DECIMAL(18,2)))
                         AS DECIMAL(38,2)) AS DOUBLE) AS sqd,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                             * CAST(l_discount AS DECIMAL(18,2)))
                         AS DECIMAL(38,4)) AS DOUBLE) AS spd
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n,
           {c1} AS corr_qty_price,
           {c2} AS corr_qty_disc,
           {c3} AS corr_price_disc
    FROM s
    """.format(
        c1=sql_canon(
            sql_dround(
                "(n * sqp - sq * sp)"
                " / (SQRT(n * sqq - sq * sq) * SQRT(n * spp - sp * sp))",
                9,
            )
        ),
        c2=sql_canon(
            sql_dround(
                "(n * sqd - sq * sd)"
                " / (SQRT(n * sqq - sq * sq) * SQRT(n * sdd - sd * sd))",
                9,
            )
        ),
        c3=sql_canon(
            sql_dround(
                "(n * spd - sp * sd)"
                " / (SQRT(n * spp - sp * sp) * SQRT(n * sdd - sd * sd))",
                9,
            )
        ),
    ),
)
def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix (quantity / price / discount
    per return flag) from ONE aggregation pass.

    The scalable shape for feature-correlation scans: all C(k,2) pairs
    share a single groupBy collecting exact-decimal sufficient statistics
    (n, Σx, Σx², Σxy) with map-side partials — one shuffle regardless of
    how many pairs, no per-pair passes, no driver loop. Correlations then
    assemble in a fixed scalar double expression tree from the exact
    sums; unlike ``q_regression_by_group``'s slope, the a*b - c*d
    co-moment shape is FMA-contractible (DuckDB fuses it, the JVM does
    not -> observed 1-2 ulp drift at sf0.001), so the outputs take the
    house dround(9)->canon presentation instead of raw doubles.
    """
    li = table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("decimal(18,0)")
    p = F.col("l_extendedprice").cast("decimal(18,2)")
    d = F.col("l_discount").cast("decimal(18,2)")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(q).cast("decimal(38,0)").cast("double").alias("sq"),
        F.sum(p).cast("decimal(38,2)").cast("double").alias("sp"),
        F.sum(d).cast("decimal(38,2)").cast("double").alias("sd"),
        F.sum(q * q).cast("decimal(38,0)").cast("double").alias("sqq"),
        F.sum(p * p).cast("decimal(38,4)").cast("double").alias("spp"),
        F.sum(d * d).cast("decimal(38,4)").cast("double").alias("sdd"),
        F.sum(q * p).cast("decimal(38,2)").cast("double").alias("sqp"),
        F.sum(q * d).cast("decimal(38,2)").cast("double").alias("sqd"),
        F.sum(p * d).cast("decimal(38,4)").cast("double").alias("spd"),
    )

    def _corr(sxy: str, sx: str, sy: str, sxx: str, syy: str) -> F.Column:
        n = F.col("n")
        cov = n * F.col(sxy) - F.col(sx) * F.col(sy)
        vx = n * F.col(sxx) - F.col(sx) * F.col(sx)
        vy = n * F.col(syy) - F.col(sy) * F.col(sy)
        return cov / (F.sqrt(vx) * F.sqrt(vy))

    return s.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        canon(dround(_corr("sqp", "sq", "sp", "sqq", "spp"), 9)).alias(
            "corr_qty_price"
        ),
        canon(dround(_corr("sqd", "sq", "sd", "sqq", "sdd"), 9)).alias(
            "corr_qty_disc"
        ),
        canon(dround(_corr("spd", "sp", "sd", "spp", "sdd"), 9)).alias(
            "corr_price_disc"
        ),
    )


#: price band width (dollars) for the banded global rank — lineitem
#: extended prices span ~[900, 105000], so ~105 bands: the band table is
#: tiny (window-safe) while each band still splits the sort across tasks
_QBIN_BAND = 1000.0


@query(
    "q_quantile_bins",
    oracle=f"""
    WITH binned AS (
        SELECT NTILE(10) OVER (ORDER BY l_extendedprice, l_orderkey,
                               l_linenumber) AS bin,
               l_extendedprice
        FROM lineitem
    )
    SELECT CAST(bin AS INT) AS bin,
           COUNT(*) AS n,
           {sql_canon(sql_dround('MIN(l_extendedprice)', 2))} AS lo,
           {sql_canon(sql_dround('MAX(l_extendedprice)', 2))} AS hi
    FROM binned GROUP BY bin
    """,
)
def q_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency binning (decile bucketing) of a numeric column —
    the discretization step behind feature bucketization, quantile-based
    outlier capping, and stratified report cuts. Deterministic under
    ties: the NTILE ordering carries the (l_orderkey, l_linenumber)
    primary key as tiebreak, so both engines assign identical bins.

    Scale note: the EXACT global rank runs on the banded machinery
    (``q_gini_concentration``'s template): fixed-width price bands →
    per-band counts → running offsets over the tiny band table +
    per-band row_number → rn = offset + in-band rank, parallel across
    bands — never a single-task NTILE sort of all of lineitem. The bin
    is then pure arithmetic on (rn, n) reproducing SQL NTILE's
    first-(n mod k)-buckets-get-the-extra-row rule, so the output (and
    the DuckDB oracle, which states the naive NTILE) is bit-identical.
    The approximate relaxation stays ``q_agg_approx_quantile``
    (approx_percentile boundaries + broadcast width_bucket).
    """
    from .banding import banded_row_number, ntile_expr

    li = table(spark, sf_dir, "lineitem")
    ranked = banded_row_number(
        li.select("l_extendedprice", "l_orderkey", "l_linenumber"),
        F.floor(F.col("l_extendedprice") / _QBIN_BAND).cast("long"),
        ["l_extendedprice", "l_orderkey", "l_linenumber"],
    )
    return (
        ranked.select(
            "l_extendedprice", ntile_expr(10).cast("int").alias("bin")
        )
        .groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            canon(dround(F.min("l_extendedprice"), 2)).alias("lo"),
            canon(dround(F.max("l_extendedprice"), 2)).alias("hi"),
        )
        .select(F.col("bin").cast("int").alias("bin"), "n", "lo", "hi")
    )


@query(
    "q_ab_ttest",
    oracle=f"""
    WITH fp AS (
        SELECT event_type,
               user_id % 2 AS arm,
               CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS v_fp,
               CAST(FLOOR(value * value * 1000000 + 0.5) AS BIGINT) AS v2_fp
        FROM events
    ),
    g AS (
        SELECT event_type,
               COUNT(*) FILTER (arm = 0) AS n_a,
               COUNT(*) FILTER (arm = 1) AS n_b,
               SUM(v_fp)  FILTER (arm = 0) AS s_a,
               SUM(v_fp)  FILTER (arm = 1) AS s_b,
               SUM(v2_fp) FILTER (arm = 0) AS q_a,
               SUM(v2_fp) FILTER (arm = 1) AS q_b
        FROM fp GROUP BY event_type
    ),
    m AS (
        SELECT event_type, n_a, n_b,
               CAST(s_a AS DOUBLE) / (1000000.0 * n_a) AS mean_a,
               CAST(s_b AS DOUBLE) / (1000000.0 * n_b) AS mean_b,
               (CAST(q_a AS DOUBLE) / (1000000.0 * n_a)
                - (CAST(s_a AS DOUBLE) / (1000000.0 * n_a))
                  * (CAST(s_a AS DOUBLE) / (1000000.0 * n_a)))
               * (CAST(n_a AS DOUBLE) / (n_a - 1)) AS var_a,
               (CAST(q_b AS DOUBLE) / (1000000.0 * n_b)
                - (CAST(s_b AS DOUBLE) / (1000000.0 * n_b))
                  * (CAST(s_b AS DOUBLE) / (1000000.0 * n_b)))
               * (CAST(n_b AS DOUBLE) / (n_b - 1)) AS var_b
        FROM g
    )
    SELECT event_type, n_a, n_b,
           {sql_canon(sql_dround('mean_a', 6))} AS mean_a,
           {sql_canon(sql_dround('mean_b', 6))} AS mean_b,
           {sql_canon(sql_dround(
               '(mean_a - mean_b) / SQRT(var_a / n_a + var_b / n_b)', 6))}
               AS t_stat,
           ABS((mean_a - mean_b) / SQRT(var_a / n_a + var_b / n_b)) > 1.96
               AS significant
    FROM m
    """,
)
def q_ab_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t-test per event_type — the A/B-experiment
    readout, in-plan: users split into arms by ``user_id % 2`` (the
    deterministic stand-in for an assignment table), then ONE aggregate
    pass computes both arms' count / mean / sample variance via
    conditional aggregation (``FILTER``-style) — no self-join, no second
    scan, no pivot shuffle.

    Determinism follows the ``q_drift_kl`` convention: values (and their
    squares) quantize to fixed-point BIGINT *before* summing, making the
    reductions order-independent and engine-identical; every downstream
    step is scalar IEEE math on identical operands, structured
    identically in both engines, with the final statistics presented via
    dround(6)→canon. Fixed-point headroom: |value| ≤ ~561 in the
    testdata, so v²·1e6 ≤ 3.2e11/row — int64 overflows past ~2.9e7 rows
    per (type, arm) × 1e3 safety, i.e. switch the sums to
    DECIMAL(38,0) beyond ~1e10 rows per group.
    """
    ev = table(spark, sf_dir, "events")
    fp = ev.select(
        "event_type",
        (F.col("user_id") % 2).alias("arm"),
        F.floor(F.col("value") * 1000000 + 0.5).cast("bigint").alias("v_fp"),
        F.floor(F.col("value") * F.col("value") * 1000000 + 0.5)
        .cast("bigint")
        .alias("v2_fp"),
    )
    a = F.col("arm") == 0
    b = F.col("arm") == 1
    g = fp.groupBy("event_type").agg(
        F.count(F.when(a, 1)).alias("n_a"),
        F.count(F.when(b, 1)).alias("n_b"),
        F.sum(F.when(a, F.col("v_fp"))).alias("s_a"),
        F.sum(F.when(b, F.col("v_fp"))).alias("s_b"),
        F.sum(F.when(a, F.col("v2_fp"))).alias("q_a"),
        F.sum(F.when(b, F.col("v2_fp"))).alias("q_b"),
    )

    def mean(s, n):
        return F.col(s).cast("double") / (F.lit(1000000.0) * F.col(n))

    def var(q, s, n):
        m = mean(s, n)
        return (F.col(q).cast("double") / (F.lit(1000000.0) * F.col(n)) - m * m) * (
            F.col(n).cast("double") / (F.col(n) - 1)
        )

    m = g.select(
        "event_type",
        "n_a",
        "n_b",
        mean("s_a", "n_a").alias("mean_a"),
        mean("s_b", "n_b").alias("mean_b"),
        var("q_a", "s_a", "n_a").alias("var_a"),
        var("q_b", "s_b", "n_b").alias("var_b"),
    )
    t = (F.col("mean_a") - F.col("mean_b")) / F.sqrt(
        F.col("var_a") / F.col("n_a") + F.col("var_b") / F.col("n_b")
    )
    return m.select(
        "event_type",
        "n_a",
        "n_b",
        canon(dround("mean_a", 6)).alias("mean_a"),
        canon(dround("mean_b", 6)).alias("mean_b"),
        canon(dround(t, 6)).alias("t_stat"),
        (F.abs(t) > 1.96).alias("significant"),
    )


# ---------------------------------------------------------------------------
# Exact weighted median via band localization
# ---------------------------------------------------------------------------

#: value-band width for localizing the weighted median (prices span
#: ~900..105000, so ~100 bands; width is a constant, not a percentile,
#: to keep the banding engine-free)
_WM_BAND = 1000


@query(
    "q_weighted_median",
    oracle=f"""
    WITH r AS (
        SELECT l_returnflag AS flag, l_extendedprice AS v,
               CAST(l_quantity AS DECIMAL(18,0)) AS w
        FROM lineitem
    ),
    tot AS (SELECT flag, SUM(w) AS total FROM r GROUP BY flag),
    c AS (
        SELECT flag, v,
               SUM(w) OVER (PARTITION BY flag ORDER BY v
                            ROWS UNBOUNDED PRECEDING) AS cum
        FROM r
    )
    SELECT c.flag, CAST(t.total AS BIGINT) AS total_w,
           {sql_canon("CAST(MIN(c.v) AS DECIMAL(18,2))")} AS median_price
    FROM c JOIN tot t ON c.flag = t.flag
    WHERE 2 * c.cum >= t.total
    GROUP BY c.flag, t.total
    """,
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted (lower) median of line price per return flag,
    weighted by quantity — the robust-center statistic percentile_approx
    approximates and naive exact forms compute with a full per-group
    sort.

    Scale shape (band localization, the ``q_curriculum_interleave``
    family): (1) rows reduce to (flag, fixed-width value band) weight
    sums — a tiny aggregate with map-side partials; (2) a window over
    the ~100-row band table finds each flag's median BAND and the
    exclusive weight before it; (3) only rows INSIDE that one band are
    re-scanned and sorted (a broadcast semi filter + a window over
    ~1/100th of each group), where the exact crossing value is read
    off. No operator ever sorts a whole group. The oracle states the
    naive definition — full per-group cumulative weights — so the
    banded plan is verified against declarative semantics. Weights sum
    in exact decimal; the crossing VALUE is tie-stable even though
    tied rows may permute (any order crosses the threshold at the same
    price).
    """
    return weighted_median(table(spark, sf_dir, "lineitem"))


def weighted_median(li: DataFrame) -> DataFrame:
    """Band-localized weighted-median plan over a lineitem frame (shared
    with ``tools/scale_stress.py``)."""
    r = li.select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("v"),
        F.col("l_quantity").cast("decimal(18,0)").alias("w"),
    ).withColumn("band", F.floor(F.col("v") / _WM_BAND).cast("long"))
    bands = r.groupBy("flag", "band").agg(F.sum("w").alias("bw"))
    per_flag = W.partitionBy("flag").orderBy("band")
    cum_w = per_flag.rowsBetween(W.unboundedPreceding, W.currentRow)
    all_w = W.partitionBy("flag")
    banded = bands.select(
        "flag",
        "band",
        "bw",
        F.sum("bw").over(cum_w).alias("cum"),
        F.sum("bw").over(all_w).alias("total"),
    )
    med_band = (
        banded.filter(2 * F.col("cum") >= F.col("total"))
        .groupBy("flag")
        .agg(
            F.min_by(
                F.struct(
                    F.col("band"), (F.col("cum") - F.col("bw")).alias("before"),
                    F.col("total"),
                ),
                F.col("band"),
            ).alias("m")
        )
        .select(
            "flag",
            F.col("m.band").alias("mband"),
            F.col("m.before").alias("before"),
            F.col("m.total").alias("total"),
        )
    )
    rr = r.alias("rr")
    mb = med_band.alias("mb")
    in_band = rr.join(
        F.broadcast(mb),
        (F.col("rr.flag") == F.col("mb.flag"))
        & (F.col("rr.band") == F.col("mb.mband")),
    ).select(
        F.col("rr.flag").alias("flag"), "v", "w", "before", "total"
    )
    in_cum = (
        W.partitionBy("flag")
        .orderBy("v")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    crossed = in_band.select(
        "flag",
        "v",
        "total",
        (F.col("before") + F.sum("w").over(in_cum)).alias("cum"),
    ).filter(2 * F.col("cum") >= F.col("total"))
    return crossed.groupBy("flag").agg(
        F.first("total").cast("long").alias("total_w"),
        canon(F.min("v").cast("decimal(18,2)")).alias("median_price"),
    )


# ---------------------------------------------------------------------------
# One-pass table profiling (the data-quality census every ingest runs first)
# ---------------------------------------------------------------------------


@query(
    "q_profile_table",
    oracle="""
    SELECT 'doc_id' AS col,
           CAST(COUNT(*) - COUNT(doc_id) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_distinct,
           CAST(MIN(doc_id) AS VARCHAR) AS min_value,
           CAST(MAX(doc_id) AS VARCHAR) AS max_value
    FROM documents
    UNION ALL
    SELECT 'lang', COUNT(*) - COUNT(lang), COUNT(DISTINCT lang),
           MIN(lang), MAX(lang) FROM documents
    UNION ALL
    SELECT 'source', COUNT(*) - COUNT(source), COUNT(DISTINCT source),
           MIN(source), MAX(source) FROM documents
    UNION ALL
    SELECT 'n_chars', COUNT(*) - COUNT(n_chars), COUNT(DISTINCT n_chars),
           CAST(MIN(n_chars) AS VARCHAR), CAST(MAX(n_chars) AS VARCHAR)
    FROM documents
    UNION ALL
    SELECT 'text_len', COUNT(*) - COUNT(text), COUNT(DISTINCT LENGTH(text)),
           CAST(MIN(LENGTH(text)) AS VARCHAR),
           CAST(MAX(LENGTH(text)) AS VARCHAR)
    FROM documents
    """,
)
def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass table profile: per column, its null count, distinct
    count, and min/max — the ingest-time data-quality census that
    decides whether a feed is trustworthy before anything downstream
    runs.

    ONE scan computes every column's aggregates side by side (Spark
    evaluates all 20 aggregate expressions in a single partial+final
    pass — no per-column re-scan), and the single result row unpivots
    to long format with a codegen'd ``stack``. The free-text column
    profiles by LENGTH (its min/max strings would be pages long and
    meaningless). Values present as strings so mixed column types share
    one schema — the standard profiling-tool contract.
    """
    d = table(spark, sf_dir, "documents")
    row = d.agg(
        # doc_id
        (F.count("*") - F.count("doc_id")).alias("id_nulls"),
        F.count_distinct("doc_id").alias("id_dist"),
        F.min("doc_id").cast("string").alias("id_min"),
        F.max("doc_id").cast("string").alias("id_max"),
        # lang
        (F.count("*") - F.count("lang")).alias("lang_nulls"),
        F.count_distinct("lang").alias("lang_dist"),
        F.min("lang").alias("lang_min"),
        F.max("lang").alias("lang_max"),
        # source
        (F.count("*") - F.count("source")).alias("src_nulls"),
        F.count_distinct("source").alias("src_dist"),
        F.min("source").alias("src_min"),
        F.max("source").alias("src_max"),
        # n_chars
        (F.count("*") - F.count("n_chars")).alias("nc_nulls"),
        F.count_distinct("n_chars").alias("nc_dist"),
        F.min("n_chars").cast("string").alias("nc_min"),
        F.max("n_chars").cast("string").alias("nc_max"),
        # text length profile
        (F.count("*") - F.count("text")).alias("tl_nulls"),
        F.count_distinct(F.length("text")).alias("tl_dist"),
        F.min(F.length("text")).cast("string").alias("tl_min"),
        F.max(F.length("text")).cast("string").alias("tl_max"),
    )
    return row.select(
        F.expr(
            "stack(5,"
            " 'doc_id', id_nulls, id_dist, id_min, id_max,"
            " 'lang', lang_nulls, lang_dist, lang_min, lang_max,"
            " 'source', src_nulls, src_dist, src_min, src_max,"
            " 'n_chars', nc_nulls, nc_dist, nc_min, nc_max,"
            " 'text_len', tl_nulls, tl_dist, tl_min, tl_max)"
            " AS (col, n_nulls, n_distinct, min_value, max_value)"
        )
    ).select(
        "col",
        F.col("n_nulls").cast("long").alias("n_nulls"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        "min_value",
        "max_value",
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit (forensic data-quality screening)
# ---------------------------------------------------------------------------

#: Benford expected first-digit probabilities log10(1 + 1/d), precomputed
#: as LITERALS so neither engine's log implementation enters the hash
_BENFORD_P = (
    0.301029995664, 0.176091259056, 0.124938736608, 0.096910013008,
    0.079181246048, 0.066946789631, 0.057991946978, 0.051152522447,
    0.045757490561,
)


@query(
    "q_benford_audit",
    oracle=f"""
    WITH digits AS (
        SELECT CAST(SUBSTR(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                    AS VARCHAR), 1, 1) AS INT) AS d
        FROM orders WHERE o_totalprice >= 1.0
    ),
    counts AS (
        SELECT d, COUNT(*) AS n, SUM(COUNT(*)) OVER () AS total
        FROM digits GROUP BY d
    )
    SELECT d, CAST(n AS BIGINT) AS n_obs,
           {sql_canon(sql_dround(
               "CAST(total AS DOUBLE) * (CASE d "
               + " ".join(f"WHEN {d} THEN {p!r}" for d, p in enumerate(_BENFORD_P, start=1))
               + " END)", 6))} AS n_expected,
           {sql_canon(sql_dround(
               "(CAST(n AS DOUBLE) - CAST(total AS DOUBLE) * (CASE d "
               + " ".join(f"WHEN {d} THEN {p!r}" for d, p in enumerate(_BENFORD_P, start=1))
               + " END)) * (CAST(n AS DOUBLE) - CAST(total AS DOUBLE) * (CASE d "
               + " ".join(f"WHEN {d} THEN {p!r}" for d, p in enumerate(_BENFORD_P, start=1))
               + " END)) / (CAST(total AS DOUBLE) * (CASE d "
               + " ".join(f"WHEN {d} THEN {p!r}" for d, p in enumerate(_BENFORD_P, start=1))
               + " END))", 6))} AS chi2_contrib
    FROM counts
    """,
)
def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of the order totals — the
    forensic screen for fabricated or systematically clipped numeric
    feeds (organic multi-scale amounts follow log10(1+1/d); fraud and
    generator artifacts don't). Per digit: observed count, Benford
    expectation, and the chi-square contribution.

    First digits come from the DECIMAL string form (identical spelling
    both engines — no float formatting in the hash path); the Benford
    probabilities are PRECOMPUTED literals so neither engine's log
    enters the comparison; the expectation/chi-square arithmetic is one
    fixed IEEE sequence on identical operands, presented via
    canon(dround(·, 6)). One scan, 9-key census, a window over 9 rows.
    """
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1.0)
    d = F.substring(
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1
    ).cast("int")
    counts = o.select(d.alias("d")).groupBy("d").agg(F.count("*").alias("n"))
    total = F.sum("n").over(W.partitionBy())
    p = F.col("d")
    expected_p = F.when(p == 1, _BENFORD_P[0])
    for dd in range(2, 10):
        expected_p = expected_p.when(p == dd, _BENFORD_P[dd - 1])
    exp = total.cast("double") * expected_p
    chi = (F.col("n").cast("double") - exp) * (
        F.col("n").cast("double") - exp
    ) / exp
    return counts.select(
        "d",
        F.col("n").cast("long").alias("n_obs"),
        canon(dround(exp, 6)).alias("n_expected"),
        canon(dround(chi, 6)).alias("chi2_contrib"),
    )


# ---------------------------------------------------------------------------
# Exact Gini concentration of customer revenue (banded global rank)
# ---------------------------------------------------------------------------

#: revenue band width in cents for the distributed ranking (10k dollars)
_GINI_BAND = 1_000_000


@query(
    "q_gini_concentration",
    oracle=f"""
    WITH cust AS (
        SELECT o_custkey,
               CAST(SUM(CAST(o_totalprice * 100 AS DECIMAL(18,0)))
                    AS DECIMAL(38,0)) AS cents
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT cents,
               ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i,
               COUNT(*) OVER () AS n,
               SUM(cents) OVER () AS total
        FROM cust
    )
    SELECT CAST(ANY_VALUE(n) AS BIGINT) AS n_customers,
           CAST(CAST(ANY_VALUE(total) AS DECIMAL(38,0)) AS VARCHAR)
               AS total_cents,
           {sql_canon(sql_dround(
               "2.0 * CAST(SUM(i * cents) AS DOUBLE)"
               " / (CAST(ANY_VALUE(n) AS DOUBLE)"
               "    * CAST(ANY_VALUE(total) AS DOUBLE))"
               " - (CAST(ANY_VALUE(n) AS DOUBLE) + 1.0)"
               "   / CAST(ANY_VALUE(n) AS DOUBLE)", 9))} AS gini
    FROM ranked
    """,
)
def q_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini coefficient of customer revenue — the concentration
    number behind "top X% of customers drive Y% of revenue" — via the
    rank formula G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over revenue-sorted
    customers.

    Scale shape: the global rank uses the banded machinery (fixed-width
    cent bands → per-band counts → running offsets over the small band
    table + in-band row_number, parallel across bands) — never a
    single-task window over all customers; Σ(i·xᵢ) accumulates in
    DECIMAL(38,0) (exact, order-independent: i ≤ n, xᵢ in cents), and
    the final Gini is one fixed IEEE expression of three exact
    integers. The oracle states the naive global ROW_NUMBER
    definition.
    """
    o = table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.sum((F.col("o_totalprice") * 100).cast("decimal(18,0)"))
        .cast("decimal(38,0)")
        .alias("cents")
    )
    base = cust.withColumn(
        "band", (F.col("cents") / _GINI_BAND).cast("long")
    )
    counts = base.groupBy("band").agg(F.count("*").alias("c"))
    off_w = W.orderBy("band").rowsBetween(W.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "off", F.coalesce(F.sum("c").over(off_w), F.lit(0))
    ).select("band", "off")
    in_band = F.row_number().over(
        W.partitionBy("band").orderBy("cents", "o_custkey")
    )
    ranked = (
        base.withColumn("br", in_band)
        .join(F.broadcast(offsets), "band")
        .select("cents", (F.col("off") + F.col("br")).alias("i"))
    )
    agg = ranked.agg(
        F.count("*").alias("n"),
        F.sum("cents").cast("decimal(38,0)").alias("total"),
        F.sum(F.col("i") * F.col("cents")).cast("decimal(38,0)").alias("sic"),
    )
    nd = F.col("n").cast("double")
    gini = (
        2.0 * F.col("sic").cast("double") / (nd * F.col("total").cast("double"))
        - (nd + 1.0) / nd
    )
    return agg.select(
        F.col("n").cast("long").alias("n_customers"),
        F.col("total").cast("string").alias("total_cents"),
        canon(dround(gini, 9)).alias("gini"),
    )


@query(
    "q_hhi_concentration",
    oracle=f"""
    WITH rev AS (
        SELECT p.p_type, l.l_suppkey,
               CAST(SUM(CAST(l.l_extendedprice * 100 AS DECIMAL(18,0)))
                    AS DECIMAL(38,0)) AS cents
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY p.p_type, l.l_suppkey
    )
    SELECT p_type,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           {sql_canon(sql_dround(
               "CAST(SUM(cents * cents) AS DOUBLE)"
               " / (CAST(SUM(cents) AS DOUBLE) * CAST(SUM(cents) AS DOUBLE))",
               9))} AS hhi
    FROM rev GROUP BY p_type
    """,
)
def q_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman supplier-concentration index per part type
    — HHI = Σ shareᵢ² ∈ (1/n, 1], the antitrust-style is-this-market-
    captured number (1/n = perfectly even, →1 = single supplier) that
    complements ``q_gini_concentration``'s customer-side view.

    Both Σcents² and Σcents accumulate in exact DECIMAL(38,0) (cents²
    fits: 10¹⁷ per term at petabyte revenue), so HHI reduces to ONE
    fixed IEEE expression of two exact integers — no per-share
    division, no ordering sensitivity. Plan: one fact shuffle on the
    (type, supplier) key with the part dim broadcast, then a |types|-
    key census.
    """
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_type", "l_suppkey")
        .agg(
            F.sum((F.col("l_extendedprice") * 100).cast("decimal(18,0)"))
            .cast("decimal(38,0)")
            .alias("cents")
        )
    )
    hhi = F.sum(F.col("cents") * F.col("cents")).cast("double") / (
        F.sum("cents").cast("double") * F.sum("cents").cast("double")
    )
    return rev.groupBy("p_type").agg(
        F.count("*").cast("long").alias("n_suppliers"),
        canon(dround(hhi, 9)).alias("hhi"),
    )


@query(
    "q_abc_classification",
    oracle="""
    WITH rev AS (
        SELECT l_partkey,
               CAST(SUM(CAST(l_extendedprice * 100 AS DECIMAL(18,0)))
                    AS DECIMAL(38,0)) AS cents
        FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
        SELECT l_partkey, cents,
               SUM(cents) OVER (ORDER BY cents DESC, l_partkey
                                ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(cents) OVER () AS total
        FROM rev
    ),
    classed AS (
        SELECT CASE WHEN cum * 100 <= total * 80 THEN 'A'
                    WHEN cum * 100 <= total * 95 THEN 'B'
                    ELSE 'C' END AS abc,
               cents
        FROM ranked
    )
    SELECT abc, CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(CAST(SUM(cents) AS DECIMAL(38,0)) AS VARCHAR)
               AS revenue_cents
    FROM classed GROUP BY abc
    """,
)
def q_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) inventory classification: parts ranked by revenue,
    class A while the running share ≤80%, B to 95%, C after — the
    stocking-policy segmentation ops teams run weekly.

    The cumulative window runs over the PART DIMENSION (revenue per
    part — one fact shuffle with map-side partials reduces 100 TB of
    lineitem to |parts| rows first), so the unpartitioned window is
    dim-bounded, not fact-bounded — the legitimate case for a global
    window. Thresholds compare exact integers cross-multiplied
    (cum·100 ≤ total·80) — no share division anywhere, so class
    boundaries are engine-exact even at ties (the (cents DESC,
    partkey) order pins tie placement).
    """
    li = table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum((F.col("l_extendedprice") * 100).cast("decimal(18,0)"))
        .cast("decimal(38,0)")
        .alias("cents")
    )
    w_cum = W.orderBy(F.col("cents").desc(), F.col("l_partkey").asc()).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    w_all = W.partitionBy()
    ranked = rev.select(
        "cents",
        F.sum("cents").over(w_cum).alias("cum"),
        F.sum("cents").over(w_all).alias("total"),
    )
    abc = (
        F.when(F.col("cum") * 100 <= F.col("total") * 80, "A")
        .when(F.col("cum") * 100 <= F.col("total") * 95, "B")
        .otherwise("C")
    )
    return (
        ranked.select(abc.alias("abc"), "cents")
        .groupBy("abc")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.sum("cents")
            .cast("decimal(38,0)")
            .cast("string")
            .alias("revenue_cents"),
        )
    )
