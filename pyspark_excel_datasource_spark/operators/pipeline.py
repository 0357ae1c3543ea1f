"""End-to-end LLM training-data pipeline operators (SURVEY.md §2.4).

Two composition-level operators the single-purpose queries don't show:

- ``q_split_assign``: deterministic, content-addressed train/val/test
  assignment. Hash-based splits are the only reproducible kind at 100 TB —
  random splits drift when the corpus grows, per-file splits leak
  near-dups across sets. The bucket is the first two hex chars of
  ``md5(doc_id)``, so the assignment is stable under corpus growth,
  engine-independent (md5 is md5 everywhere — which also makes it exactly
  DuckDB-oracle-able), and trivially stratifiable.
- ``q_pipeline_llm_prep``: the canonical corpus-prep chain as ONE
  declarative plan — quality filter → exact near-dup removal (normalized
  fingerprint, keep-min survivor) → split assignment. Catalyst sees the
  whole pipeline: the quality filter prunes before the dedup shuffle, the
  fingerprint group-by shuffles 16-byte keys rather than documents, and
  the split column is a projection. At 100 TB this one plan replaces the
  ad-hoc multi-job scripts such pipelines usually become.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..catalog import spread, table
from ..functions.determinism import sql_canon, sql_dround
from ..plans.registry import query

#: md5-prefix thresholds: 'cd' = 205/256 ≈ 80% train, 'e6' = 230/256 ≈ 90%
_TRAIN_MAX_HEX = "cd"
_VAL_MAX_HEX = "e6"

_SPLIT_SQL_CASE = f"""
    CASE WHEN SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 2) < '{_TRAIN_MAX_HEX}'
             THEN 'train'
         WHEN SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 2) < '{_VAL_MAX_HEX}'
             THEN 'val'
         ELSE 'test' END
"""


def split_column() -> F.Column:
    """Deterministic split label from the content-addressed md5 bucket."""
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    return (
        F.when(bucket < _TRAIN_MAX_HEX, "train")
        .when(bucket < _VAL_MAX_HEX, "val")
        .otherwise("test")
    )


@query(
    "q_split_assign",
    oracle=f"""
    SELECT doc_id,
           SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket_hex,
           {_SPLIT_SQL_CASE} AS split
    FROM documents
    """,
)
def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (~80/10/10) keyed on the
    md5 of the document id — reproducible across engines, runs, and
    corpus versions; no RNG, no global count, no shuffle."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2).alias(
            "bucket_hex"
        ),
        split_column().alias("split"),
    )


@query(
    "q_pipeline_llm_prep",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang, text,
               LEN(STRING_SPLIT(text, ' ')) AS n_tokens,
               MD5(LOWER(REGEXP_REPLACE(TRIM(text), ' +', ' ', 'g')))
                   AS fingerprint
        FROM documents
        WHERE LEN(STRING_SPLIT(text, ' ')) BETWEEN 20 AND 500
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY fingerprint
                                     ORDER BY doc_id) AS rn
        FROM scored
    )
    SELECT doc_id, lang, CAST(n_tokens AS INT) AS n_tokens,
           fingerprint, {_SPLIT_SQL_CASE} AS split
    FROM ranked WHERE rn = 1
    """,
)
def q_pipeline_llm_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus prep as one declarative plan: length/quality gate → exact
    near-dup removal on the normalized-content fingerprint (deterministic
    keep-min survivor) → content-addressed split assignment.

    Plan shape: the quality filter is a pushed scan predicate, the dedup
    is one shuffle on 16-byte md5 keys with a WindowGroupLimit-style
    survivor pick, the split label is a pure projection. Swap the
    fingerprint stage for ``dedup.minhash_pairs`` + cluster keep-min to
    upgrade exact dedup to near-dup dedup without touching the rest.
    """
    d = table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.col("text"), " "))
    fp = F.md5(
        F.encode(
            F.lower(F.regexp_replace(F.trim(F.col("text")), " +", " ")), "UTF-8"
        )
    )
    scored = (
        d.filter(n_tokens.between(20, 500))
        .select(
            "doc_id",
            "lang",
            n_tokens.cast("int").alias("n_tokens"),
            fp.alias("fingerprint"),
        )
    )
    w = W.partitionBy("fingerprint").orderBy("doc_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id", "lang", "n_tokens", "fingerprint", split_column().alias("split")
        )
    )


@query(
    "q_validate_constraints",
    oracle="""
    SELECT 'orders_null_custkey' AS check_name,
           CAST((SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL)
                AS BIGINT) AS violations,
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS total
    UNION ALL
    SELECT 'orders_fk_customer',
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS BIGINT),
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT)
    UNION ALL
    SELECT 'lineitem_nonpositive_qty',
           CAST((SELECT COUNT(*) FROM lineitem WHERE l_quantity <= 0)
                AS BIGINT),
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT)
    UNION ALL
    SELECT 'lineitem_discount_range',
           CAST((SELECT COUNT(*) FROM lineitem
                 WHERE l_discount < 0 OR l_discount > 1) AS BIGINT),
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT)
    UNION ALL
    SELECT 'documents_empty_text',
           CAST((SELECT COUNT(*) FROM documents
                 WHERE text IS NULL OR LENGTH(TRIM(text)) = 0) AS BIGINT),
           CAST((SELECT COUNT(*) FROM documents) AS BIGINT)
    """,
)
def q_validate_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate: each constraint compiles to a
    conditional-count aggregate, all evaluated in ONE pass per table (a
    single partial+final aggregation — violations are `sum(case when)`
    columns, never separate scans), plus one anti-join for referential
    integrity. The per-check row shape is what a pipeline orchestrator
    consumes to block a bad snapshot before it reaches training.
    """
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    docs = table(spark, sf_dir, "documents")
    cust = table(spark, sf_dir, "customer")

    def one_pass(df: DataFrame, checks: dict[str, F.Column]) -> DataFrame:
        # coalesce: SUM over zero rows is NULL but the oracle's COUNT
        # subqueries say 0 — an empty table must report 0 violations
        agg = df.agg(
            F.count("*").alias("total"),
            *[
                F.coalesce(F.sum(cond.cast("long")), F.lit(0)).alias(name)
                for name, cond in checks.items()
            ],
        )
        out = None
        for name in checks:
            row = agg.select(
                F.lit(name).alias("check_name"),
                F.col(name).cast("long").alias("violations"),
                F.col("total").cast("long").alias("total"),
            )
            out = row if out is None else out.unionByName(row)
        return out

    order_checks = one_pass(
        orders, {"orders_null_custkey": F.col("o_custkey").isNull()}
    )
    li_checks = one_pass(
        li,
        {
            "lineitem_nonpositive_qty": F.col("l_quantity") <= 0,
            "lineitem_discount_range": (F.col("l_discount") < 0)
            | (F.col("l_discount") > 1),
        },
    )
    doc_checks = one_pass(
        docs,
        {
            "documents_empty_text": F.col("text").isNull()
            | (F.length(F.trim(F.col("text"))) == 0)
        },
    )
    # left join + conditional count gives violations AND total in one
    # aggregation (customer.c_custkey is unique, so the join never
    # duplicates orders rows) — no second scan, no 1×1 cross join.
    fk_violations = (
        orders.select("o_custkey")
        .join(
            cust.select("c_custkey"),
            F.col("o_custkey") == F.col("c_custkey"),
            "left",
        )
        .agg(
            F.count("*").cast("long").alias("total"),
            F.sum(F.col("c_custkey").isNull().cast("long"))
            .cast("long")
            .alias("violations"),
        )
        .select(
            F.lit("orders_fk_customer").alias("check_name"),
            "violations",
            "total",
        )
    )
    return (
        order_checks.unionByName(fk_violations)
        .unionByName(li_checks)
        .unionByName(doc_checks)
    )


_SAMPLE_MAX_HEX = "1a"  # 26/256 ≈ 10.2% keep rate


@query(
    "q_sample_hash",
    oracle=f"""
    SELECT doc_id, lang,
           SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 3, 2) AS sample_hex
    FROM documents
    WHERE SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 3, 2) < '{_SAMPLE_MAX_HEX}'
    """,
)
def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% downsample by content hash — the reproducible
    alternative to ``df.sample()``: the same rows are kept on every run,
    every engine, and every corpus version; adding documents never changes
    which existing ones are sampled. Uses hex chars 3-4 of the id hash so
    the sample is independent of ``q_split_assign``'s chars 1-2 (a row's
    split and its sample membership are uncorrelated)."""
    d = table(spark, sf_dir, "documents")
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 3, 2)
    return (
        d.select("doc_id", "lang", h.alias("sample_hex"))
        .filter(F.col("sample_hex") < _SAMPLE_MAX_HEX)
    )


@query(
    "q_rollup_hierarchical",
    oracle="""
    SELECT event_type,
           CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6))
                AS VARCHAR) AS day_value,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
)
def q_rollup_hierarchical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate pattern: the daily rollup is derived from the
    HOURLY rollup's partials, never from raw events.

    The Spark plan materializes hour-grain partial aggregates (exact
    decimal sums — associative, so re-aggregation is lossless) and
    reduces them to day grain; the oracle aggregates raw → day directly,
    proving the two-level reduction exact. At 100 TB this is the
    incremental-view pattern: persist the hourly table per ingest batch,
    answer day/week/month queries from ~10^4× fewer rows, and never
    rescan the event log. The second shuffle is over the tiny hour-grain
    table.
    """
    from ..functions.determinism import canon

    ev = table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("hour"),
        ).agg(
            F.sum(F.col("value").cast("decimal(18,6)")).alias("hour_value"),
            F.count("*").alias("hour_events"),
        )
    )
    return (
        hourly.groupBy(
            "event_type",
            F.date_trunc("day", F.col("hour")).cast("date").alias("day"),
        )
        .agg(
            F.sum("hour_value").cast("decimal(38,6)").alias("day_value"),
            F.sum("hour_events").cast("long").alias("n_events"),
        )
        .select(
            "event_type",
            "day",
            canon("day_value").alias("day_value"),
            "n_events",
        )
    )


@query(
    "q_merge_upsert",
    oracle="""
    WITH changes AS (
        SELECT o_custkey AS custkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    AS DECIMAL(38,2)) AS delta
        FROM orders GROUP BY o_custkey
    )
    SELECT COALESCE(c.c_custkey, ch.custkey) AS custkey,
           COALESCE(c.c_name, 'NEW') AS name,
           CAST(CAST(COALESCE(CAST(c.c_acctbal AS DECIMAL(18,2)),
                              CAST(0 AS DECIMAL(18,2)))
                     + COALESCE(ch.delta, CAST(0 AS DECIMAL(38,2)))
                AS DECIMAL(38,2)) AS VARCHAR) AS acctbal,
           CASE WHEN c.c_custkey IS NULL THEN 'insert'
                WHEN ch.custkey IS NULL THEN 'keep'
                ELSE 'update' END AS action
    FROM customer c FULL OUTER JOIN changes ch
      ON c.c_custkey = ch.custkey
    """,
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics on plain parquet tables: apply a change set
    to a target snapshot — matched keys update, source-only keys insert,
    target-only keys pass through — with the action tagged per row.

    The change set here is the per-customer order total (deterministic,
    derived from the fixtures); the merge itself is ONE full-outer
    shuffle join on the key, which is exactly what table formats execute
    under MERGE. At 100 TB: both sides hash-partition on the key (AQE
    handles skew), and when the change set is small Catalyst downgrades
    to a broadcast-able right-outer pattern. Balance math is exact
    decimal; presented canonically for the cross-engine hash.
    """
    from ..functions.determinism import canon

    cust = table(spark, sf_dir, "customer")
    changes = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .alias("delta")
        )
    )
    merged = cust.join(
        changes, cust.c_custkey == changes.custkey, "full_outer"
    )
    zero18 = F.lit(0).cast("decimal(18,2)")
    zero38 = F.lit(0).cast("decimal(38,2)")
    new_bal = (
        F.coalesce(F.col("c_acctbal").cast("decimal(18,2)"), zero18)
        + F.coalesce(F.col("delta"), zero38)
    ).cast("decimal(38,2)")
    return merged.select(
        F.coalesce(F.col("c_custkey"), F.col("custkey")).alias("custkey"),
        F.coalesce(F.col("c_name"), F.lit("NEW")).alias("name"),
        canon(new_bal).alias("acctbal"),
        F.when(F.col("c_custkey").isNull(), "insert")
        .when(F.col("custkey").isNull(), "keep")
        .otherwise("update")
        .alias("action"),
    )


@query(
    "q_sample_weighted",
    oracle="""
    SELECT doc_id, lang,
           CAST(LEAST(n_chars, 2000) AS DOUBLE) / 2000.0 AS keep_p,
           CAST(CAST('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 5, 4)
                     AS INT) AS DOUBLE) / 65535.0 AS u
    FROM documents
    WHERE CAST(CAST('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 5, 4)
                    AS INT) AS DOUBLE) / 65535.0
          < CAST(LEAST(n_chars, 2000) AS DOUBLE) / 2000.0
    """,
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-weighted deterministic sampling: keep each document
    with probability proportional to a per-row weight (here a length
    proxy, ``min(n_chars, 2000)/2000`` — in production a quality or
    domain-mixing score), using a content-addressed uniform draw
    (md5 hex chars 5-8 → [0,1]) instead of RNG.

    This is the data-mixing primitive for training corpora: upweight or
    downweight sources by an arbitrary per-row factor while keeping the
    sample reproducible across engines, runs, and corpus growth. Hex
    chars 5-8 keep the draw independent of ``q_split_assign`` (1-2) and
    ``q_sample_hash`` (3-4). Both u and keep_p are single divisions of
    exact integers → bit-identical cross-engine; the whole operator is a
    stateless projection + filter, embarrassingly parallel at any scale.
    """
    d = table(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 5, 4), 16, 10
        ).cast("long")
        .cast("double")
        / F.lit(65535.0)
    )
    keep_p = F.least(F.col("n_chars"), F.lit(2000)).cast("double") / F.lit(2000.0)
    return (
        d.select(
            "doc_id",
            "lang",
            keep_p.alias("keep_p"),
            u.alias("u"),
        )
        .filter(F.col("u") < F.col("keep_p"))
    )


#: Global token budget for the mixing plan (constant so the oracle agrees).
_MIX_BUDGET_TOKENS = 1_000_000


@query(
    "q_mix_budget",
    oracle=f"""
    WITH per_source AS (
        SELECT source,
               COALESCE(TRY_CAST(REGEXP_EXTRACT(source, '([0-9]+)', 1) AS INT), 0)
                   % 4 + 1 AS weight,
               COUNT(*) AS n_docs,
               CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents
        GROUP BY source
    ),
    totals AS (
        SELECT *, SUM(weight) OVER () AS total_weight FROM per_source
    )
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs, n_tokens,
           CAST(weight AS INT) AS weight,
           CAST(ROUND({_MIX_BUDGET_TOKENS} * weight / CAST(total_weight AS DOUBLE))
                AS BIGINT) AS alloc_tokens,
           {sql_canon(sql_dround(f"CAST(ROUND({_MIX_BUDGET_TOKENS} * weight / CAST(total_weight AS DOUBLE)) AS BIGINT) / CAST(n_tokens AS DOUBLE)", 6))} AS effective_epochs,
           {sql_canon(f"CAST(LEAST(CAST(1.0 AS DECIMAL(38,6)), {sql_dround(f'CAST(ROUND({_MIX_BUDGET_TOKENS} * weight / CAST(total_weight AS DOUBLE)) AS BIGINT) / CAST(n_tokens AS DOUBLE)', 6)}) AS DECIMAL(38,6))")} AS sampling_rate
    FROM totals
    """,
)
def q_mix_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixing budget allocation: split a global token budget across
    sources by target weight and derive each source's sampling rate (<1 =
    subsample) or effective epochs (>1 = repeat).

    The planning step of every data-mixture recipe: one partial+final
    aggregate over the corpus (count + token sum per source), then pure
    arithmetic on the |sources|-row result — the unbounded window runs on
    ~20 rows AFTER aggregation, never on the corpus. Weights here are a
    deterministic function of the source id (suffix mod 4 + 1) so the
    query is self-contained; a real run would broadcast-join a weights
    table, same plan shape. The two rounded doubles are presented via
    ``canon(dround(...))`` like every other rounded output (Spark rounds
    through BigDecimal HALF_UP, DuckDB via multiply-round-divide — a raw
    ``ROUND(x, 6)`` double can diverge by 1 ulp on unlucky inputs); the
    weight extraction is ``try_cast`` + default on BOTH sides so a source
    id without digits degrades identically cross-engine instead of
    erroring in DuckDB only.
    """
    from ..functions.determinism import canon, dround

    d = table(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).cast("long").alias("n_tokens"),
    )
    weight = (
        F.coalesce(
            F.regexp_extract(F.col("source"), r"([0-9]+)", 1).try_cast("int"),
            F.lit(0),
        )
        % 4
        + 1
    )
    with_w = per_source.withColumn("weight", weight.cast("int"))
    total_w = F.sum("weight").over(W.partitionBy())
    alloc = F.round(
        F.lit(_MIX_BUDGET_TOKENS) * F.col("weight") / total_w.cast("double")
    ).cast("long")
    epochs = dround(alloc.cast("double") / F.col("n_tokens").cast("double"), 6)
    return with_w.select(
        "source",
        "n_docs",
        "n_tokens",
        "weight",
        alloc.alias("alloc_tokens"),
        canon(epochs).alias("effective_epochs"),
        canon(
            F.least(F.lit(1.0).cast("decimal(38,6)"), epochs)
        ).alias("sampling_rate"),
    )


@query(
    "q_dedup_weights",
    oracle="""
    WITH fp AS (
        SELECT doc_id,
               MD5(LOWER(REGEXP_REPLACE(TRIM(text), ' +', ' ', 'g')))
                   AS fingerprint
        FROM documents
    ),
    counted AS (
        SELECT *, COUNT(*) OVER (PARTITION BY fingerprint) AS n_copies,
               MIN(doc_id) OVER (PARTITION BY fingerprint) AS canonical_id
        FROM fp
    )
    SELECT doc_id, fingerprint, CAST(n_copies AS BIGINT) AS n_copies,
           CAST(canonical_id AS BIGINT) AS canonical_id,
           1.0 / n_copies AS sample_weight,
           doc_id = canonical_id AS is_canonical
    FROM counted
    """,
)
def q_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft deduplication: instead of DROPPING duplicates, every copy gets
    sampling weight 1/n_copies so each distinct content contributes one
    unit of training mass regardless of how often it was crawled.

    The drop-vs-downweight choice is a real pipeline policy knob (hard
    dedup discards provenance diversity; soft dedup keeps every copy's
    metadata reachable). Plan: one window partitioning on the 16-byte
    fingerprint — the shuffle moves hashes, never documents; the weight
    is one exact IEEE division of identical operands cross-engine.
    """
    d = table(spark, sf_dir, "documents")
    fp = F.md5(
        F.encode(
            F.lower(F.regexp_replace(F.trim(F.col("text")), " +", " ")), "UTF-8"
        )
    )
    w = W.partitionBy("fingerprint")
    return (
        d.select("doc_id", fp.alias("fingerprint"))
        .withColumn("n_copies", F.count("*").over(w).cast("long"))
        .withColumn("canonical_id", F.min("doc_id").over(w).cast("long"))
        .select(
            "doc_id",
            "fingerprint",
            "n_copies",
            "canonical_id",
            (F.lit(1.0) / F.col("n_copies")).alias("sample_weight"),
            (F.col("doc_id") == F.col("canonical_id")).alias("is_canonical"),
        )
    )


#: exactly-N per-stratum sample size
_EXACT_SAMPLE_N = 10


@query(
    "q_sample_exact_pergroup",
    oracle=f"""
    SELECT doc_id, lang, CAST(rk AS INT) AS rk
    FROM (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY MD5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM documents
    ) WHERE rk <= {_EXACT_SAMPLE_N}
    """,
)
def q_sample_exact_pergroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-N-per-stratum sampling (balanced eval-set construction):
    the md5 of the row key is a deterministic pseudo-random permutation,
    so rank-by-hash picks a stable uniform sample of exactly
    {_EXACT_SAMPLE_N} docs per language — no RNG state, reproducible,
    and NEW corpus rows only displace a sample member when their hash
    ranks earlier (bounded churn, unlike fraction-threshold sampling
    where the sample size drifts with corpus growth —
    ``q_sample_stratified``'s complementary contract).

    One shuffle on the stratum key; per-key state is the running top-N
    (windowed rank is partition-local after the exchange). The doc_id
    tiebreak makes the permutation total even under (impossible here,
    cheap anyway) md5 collisions.
    """
    d = table(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.select("doc_id", "lang", F.row_number().over(w).cast("int").alias("rk"))
        .filter(F.col("rk") <= _EXACT_SAMPLE_N)
    )


#: CDC snapshot boundary: events strictly before this ts form snapshot A,
#: the full table forms snapshot B (append-only fixture → no deletes; the
#: classifier still emits the delete branch for generality).
_CDC_CUT = "2024-01-16 00:00:00"


@query(
    "q_cdc_changelog",
    oracle=f"""
    WITH a AS (
        SELECT user_id, COUNT(*) AS n_events,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS total_cents
        FROM events WHERE ts < TIMESTAMP '{_CDC_CUT}' GROUP BY user_id
    ),
    b AS (
        SELECT user_id, COUNT(*) AS n_events,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS total_cents
        FROM events GROUP BY user_id
    )
    SELECT COALESCE(a.user_id, b.user_id) AS user_id,
           CASE WHEN a.user_id IS NULL THEN 'insert'
                WHEN b.user_id IS NULL THEN 'delete'
                WHEN a.n_events <> b.n_events
                     OR a.total_cents <> b.total_cents THEN 'update'
                ELSE 'unchanged' END AS op,
           a.n_events AS old_n, a.total_cents AS old_cents,
           b.n_events AS new_n, b.total_cents AS new_cents
    FROM a FULL OUTER JOIN b ON a.user_id = b.user_id
    """,
)
def q_cdc_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-diff changelog (CDC): compare the per-user aggregate state
    of two table snapshots and classify every key as
    insert/update/delete/unchanged with old+new images — the changelog
    a warehouse emits to downstream consumers after each batch load (the
    read-side complement of ``q_merge_upsert``'s write-side MERGE).

    ONE full-outer join keyed on user_id over two partial-aggregated
    snapshots (each snapshot is a map-side-combined count/sum — no raw
    event rows cross the exchange). Exact integer cents make image
    comparison engine-identical. At 100 TB both snapshots would be
    incrementally maintained aggregates, diffed with this same plan.
    """
    ev = table(spark, sf_dir, "events")

    def snap(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("total_cents"),
        )

    from .relational import ts

    a = snap(ev.filter(F.col("ts") < ts(_CDC_CUT))).alias("a")
    b = snap(ev).alias("b")
    joined = a.join(b, F.col("a.user_id") == F.col("b.user_id"), "full_outer")
    op = (
        F.when(F.col("a.user_id").isNull(), "insert")
        .when(F.col("b.user_id").isNull(), "delete")
        .when(
            (F.col("a.n_events") != F.col("b.n_events"))
            | (F.col("a.total_cents") != F.col("b.total_cents")),
            "update",
        )
        .otherwise("unchanged")
    )
    return joined.select(
        F.coalesce(F.col("a.user_id"), F.col("b.user_id")).alias("user_id"),
        op.alias("op"),
        F.col("a.n_events").alias("old_n"),
        F.col("a.total_cents").alias("old_cents"),
        F.col("b.n_events").alias("new_n"),
        F.col("b.total_cents").alias("new_cents"),
    )


@query(
    "q_agg_incremental",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                AS DECIMAL(38,2)) AS VARCHAR) AS sum_price
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_agg_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance — the materialized-view pattern
    every 100 TB rollup runs on: a stored per-group partial state
    (count + exact decimal sum) is MERGED with the partial state of the
    new-arrivals slice, never recomputed from base rows. Here the
    "stored" snapshot covers orders before a cutoff date and is
    materialized to parquet once; the delta aggregates only the
    post-cutoff slice; the merge is a union of two tiny state frames +
    one re-aggregate (sum of counts, sum of exact sums — both operations
    closed under merge). The oracle recomputes from scratch over ALL
    rows, so the hash check IS the algebraic proof that merge(state(A),
    state(B)) == state(A ∪ B).
    """
    from ..sources.excel_queries import ensure_fixture

    cutoff = F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")

    def _state(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .alias("sum_price"),
        )

    orders = table(spark, sf_dir, "orders")
    snap_path = ensure_fixture(
        sf_dir,
        "orders_agg_snapshot",
        lambda out: _state(orders.filter(F.col("o_orderdate") < cutoff))
        .write.mode("overwrite")
        .parquet(out),
    )
    snapshot = spark.read.parquet(snap_path)
    delta = _state(orders.filter(F.col("o_orderdate") >= cutoff))
    return (
        snapshot.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("sum_price").cast("decimal(38,2)").alias("sum_price"),
        )
        .select(
            "o_orderpriority",
            "n_orders",
            F.col("sum_price").cast("string").alias("sum_price"),
        )
    )


@query(
    "q_mix_temperature",
    oracle="""
    WITH s AS (
        SELECT source,
               COUNT(*) AS n_docs,
               SUM(LEN(STRING_SPLIT(text, ' '))) AS n_tokens
        FROM documents GROUP BY source
    ),
    fp AS (
        SELECT source, n_docs, n_tokens,
               CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE)) * 1000000 + 0.5)
                    AS BIGINT) AS w_fp
        FROM s
    ),
    tot AS (SELECT SUM(w_fp) AS wsum FROM fp)
    SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(CAST(ROUND(CAST(w_fp AS DOUBLE) / wsum, 9) AS DECIMAL(38,9))
                AS VARCHAR) AS weight,
           CAST(FLOOR(CAST(w_fp AS DOUBLE) / wsum * 1000000) AS BIGINT)
               AS alloc_per_million
    FROM fp CROSS JOIN tot
    """,
)
def q_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing (τ = 2, i.e. weight ∝ n_tokens^0.5)
    — the standard multilingual/multi-source re-balancing: raw-proportion
    sampling drowns small sources, uniform sampling overfits them;
    exponent 1/τ interpolates. Output per source: exact token counts, the
    normalized sampling weight, and the integer token allocation per
    million sampled.

    Determinism: each source's √tokens quantizes to fixed-point BIGINT
    *before* the normalization sum (order-independent; the `q_drift_kl`
    convention), then every downstream step is scalar IEEE math on
    identical operands. Plan: token counting runs inside the scan stage
    (text never shuffles), one tiny-key partial+final aggregate, and the
    |sources|-row result joins the 1-row total — at 100 TB this is the
    same one-pass shape as `q_mix_budget`, which allocates against a cap
    while this sets the sampling distribution itself.
    """
    d = table(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
    )
    fp = s.withColumn(
        "w_fp",
        F.floor(F.sqrt(F.col("n_tokens").cast("double")) * 1000000 + 0.5).cast(
            "bigint"
        ),
    )
    tot = fp.agg(F.sum("w_fp").alias("wsum"))
    return (
        fp.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.round(F.col("w_fp").cast("double") / F.col("wsum"), 9)
            .cast("decimal(38,9)")
            .cast("string")
            .alias("weight"),
            F.floor(F.col("w_fp").cast("double") / F.col("wsum") * 1000000)
            .cast("bigint")
            .alias("alloc_per_million"),
        )
    )


# ---------------------------------------------------------------------------
# Pareto-frontier data selection (multi-objective curation)
# ---------------------------------------------------------------------------

#: buckets for the distributed local-prune pass (skyline of a union is the
#: skyline of the union of per-bucket skylines, so pruning per bucket first
#: only ever removes globally-dominated points)
_SKY_BUCKETS = 32


@query(
    "q_skyline_pareto",
    oracle="""
    WITH scored AS (
        SELECT doc_id,
               CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS DOUBLE)
                   / LEN(STRING_SPLIT(text, ' ')) AS qx,
               n_chars
        FROM documents
    ),
    pairs AS (SELECT DISTINCT qx, n_chars FROM scored),
    frontier AS (
        SELECT qx, n_chars FROM pairs p
        WHERE NOT EXISTS (
            SELECT 1 FROM pairs b
            WHERE b.qx >= p.qx AND b.n_chars >= p.n_chars
              AND (b.qx > p.qx OR b.n_chars > p.n_chars)
        )
    )
    SELECT s.doc_id,
           CAST(ROUND(s.qx, 9) AS DECIMAL(38,9))::VARCHAR AS qx,
           CAST(s.n_chars AS BIGINT) AS n_chars
    FROM scored s JOIN frontier f
      ON s.qx = f.qx AND s.n_chars = f.n_chars
    """,
)
def q_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-frontier document selection over two quality objectives:
    lexical diversity (distinct-word ratio, higher = better) and length
    (``n_chars``, higher = better). A document survives iff no other
    document is at-least-as-good on both axes and strictly better on one
    — the standard multi-objective curation primitive when no single
    scalar score is trusted.

    Scale shape (distributed skyline, not O(n²) dominance): (1) reduce
    to DISTINCT (qx, n_chars) pairs — a map-side-combining aggregate;
    (2) per-bucket local prune: sort each of 32 hash buckets by
    (qx DESC, n_chars DESC) and drop any pair whose running max of
    n_chars over *earlier* rows already ≥ its own (every drop is
    globally dominated, because on distinct pairs an earlier row with
    n_chars ≥ mine is strictly better on at least one axis); (3) the
    tiny survivor set goes through the same rule in ONE global window
    (frontier ⊆ survivors, and every dominated survivor is beaten by a
    frontier point that sorts earlier, so the result is the exact
    global skyline); (4) broadcast the frontier pairs back onto the
    scored docs. The only global-order operation runs on the pruned
    survivors, never the corpus. The DuckDB oracle states the same
    semantics as a NOT-EXISTS anti-dominance, so the banded plan is
    verified against the declarative definition. ``qx`` is one IEEE
    division of exact integers (identical doubles in both engines);
    equality joins/grouping on it are therefore engine-consistent, and
    it is presented via the canon(dround(·, 9)) hash convention.
    """
    return skyline_select(table(spark, sf_dir, "documents"))


def skyline_select(d: DataFrame) -> DataFrame:
    """Distributed-skyline plan over a documents frame (shared with
    ``tools/scale_stress.py``)."""
    words = F.split(F.col("text"), " ")
    scored = d.select(
        "doc_id",
        (F.size(F.array_distinct(words)).cast("double") / F.size(words)).alias("qx"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )
    pairs = scored.select("qx", "n_chars").distinct()
    order = [F.col("qx").desc(), F.col("n_chars").desc()]
    prev_rows = (W.unboundedPreceding, -1)
    local = W.partitionBy("b").orderBy(*order).rowsBetween(*prev_rows)
    survivors = (
        pairs.withColumn("b", F.pmod(F.hash("qx", "n_chars"), F.lit(_SKY_BUCKETS)))
        .withColumn("lmax", F.max("n_chars").over(local))
        .filter(F.col("lmax").isNull() | (F.col("lmax") < F.col("n_chars")))
        .drop("b", "lmax")
    )
    global_w = W.orderBy(*order).rowsBetween(*prev_rows)
    frontier = (
        survivors.withColumn("gmax", F.max("n_chars").over(global_w))
        .filter(F.col("gmax").isNull() | (F.col("gmax") < F.col("n_chars")))
        .drop("gmax")
    )
    return scored.join(F.broadcast(frontier), ["qx", "n_chars"]).select(
        "doc_id",
        F.round(F.col("qx"), 9).cast("decimal(38,9)").cast("string").alias("qx"),
        "n_chars",
    )


# ---------------------------------------------------------------------------
# Curriculum scheduling: length-ordered round-robin source interleave
# ---------------------------------------------------------------------------

#: length-band width for the distributed in-source ranking (bands are
#: monotone in n_chars, so band-then-length order == plain length order)
_CURR_BAND_W = 64


@query(
    "q_curriculum_interleave",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id) AS src_rank
        FROM documents
    ),
    srcs AS (
        SELECT source,
               ROW_NUMBER() OVER (ORDER BY source) AS src_idx,
               COUNT(*) OVER () AS n_sources
        FROM (SELECT DISTINCT source FROM documents)
    )
    SELECT r.doc_id, r.source,
           CAST(r.src_rank AS BIGINT) AS src_rank,
           CAST((r.src_rank - 1) * s.n_sources + s.src_idx AS BIGINT)
               AS sched_pos
    FROM ranked r JOIN srcs s ON r.source = s.source
    """,
)
def q_curriculum_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum schedule: order each source's documents easy→hard
    (shortest first) and round-robin-interleave the sources, so training
    consumes a stationary source mixture while difficulty ramps — the
    deterministic counterpart of ``q_mix_temperature``'s stochastic
    mixing. ``sched_pos = (rank_within_source − 1) × |sources| +
    source_index`` is a total order with no two docs sharing a slot.

    Scale shape: a naive ``row_number() OVER (PARTITION BY source)``
    puts an entire source in ONE task — a scale-killer for a 100 TB
    corpus with 20 sources. The plan here is a two-level rank: (1) docs
    group into fixed-width length bands (monotone in the sort key);
    per-(source, band) counts — a tiny aggregate — turn into running
    per-source band offsets with a window over the small counts table;
    (2) ``row_number`` partitioned by (source, band) ranks inside each
    band, parallel across |sources| × |bands| tasks; offset + in-band
    rank reproduces the exact per-source rank. The oracle states the
    naive single-window definition, so the banded plan is verified
    against the declarative semantics (the ``q_skyline_pareto``
    pattern). The source-index table is |sources| rows and broadcasts.
    """
    return curriculum_schedule(table(spark, sf_dir, "documents"))


def curriculum_schedule(d: DataFrame) -> DataFrame:
    """Two-level-rank curriculum plan over a documents frame (shared with
    ``tools/scale_stress.py``)."""
    base = d.select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars")
    ).withColumn("band", (F.col("n_chars") / _CURR_BAND_W).cast("long"))
    # (1) per-(source, band) counts -> exclusive running offset per source
    counts = base.groupBy("source", "band").agg(F.count("*").alias("c"))
    off_w = (
        W.partitionBy("source")
        .orderBy("band")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        "off", F.coalesce(F.sum("c").over(off_w), F.lit(0))
    ).select("source", "band", "off")
    # (2) in-band rank, parallel across (source, band) partitions
    in_band = F.row_number().over(
        W.partitionBy("source", "band").orderBy("n_chars", "doc_id")
    )
    ranked = (
        base.withColumn("band_rank", in_band)
        .join(F.broadcast(offsets), ["source", "band"])
        .select(
            "doc_id",
            "source",
            (F.col("off") + F.col("band_rank")).cast("long").alias("src_rank"),
        )
    )
    srcs_w = W.orderBy("source")
    srcs = (
        d.select("source")
        .distinct()
        .select(
            "source",
            F.row_number().over(srcs_w).alias("src_idx"),
            F.count("*").over(W.partitionBy()).alias("n_sources"),
        )
    )
    return ranked.join(F.broadcast(srcs), "source").select(
        "doc_id",
        "source",
        "src_rank",
        ((F.col("src_rank") - 1) * F.col("n_sources") + F.col("src_idx"))
        .cast("long")
        .alias("sched_pos"),
    )


# ---------------------------------------------------------------------------
# In-plan observability (df.observe metrics riding a filter stage)
# ---------------------------------------------------------------------------

#: quality gate the observed filter applies (chars per word floor — docs
#: below it are fragment spam)
_OBS_MIN_CHARS = 150


def observed_quality_filter(d: DataFrame):
    """Quality filter with an ``Observation`` attached: returns
    ``(filtered_df, observation)``. The metrics (rows in, rows kept,
    chars kept) are computed INSIDE the same pass that filters — zero
    extra scans, exactly how a production pipeline exports health
    counters without a second job. The caller reads
    ``observation.get`` after an action."""
    from pyspark.sql import Observation

    obs = Observation("quality_gate")
    observed = d.observe(
        obs,
        F.count(F.lit(1)).alias("rows_in"),
        F.sum((F.col("n_chars") >= _OBS_MIN_CHARS).cast("long")).alias(
            "rows_kept"
        ),
        F.sum(
            F.when(F.col("n_chars") >= _OBS_MIN_CHARS, F.col("n_chars")).otherwise(
                0
            )
        ).alias("chars_kept"),
    )
    return observed.filter(F.col("n_chars") >= _OBS_MIN_CHARS), obs


@query(
    "q_observe_metrics",
    oracle=f"""
    SELECT doc_id, lang, source, CAST(n_chars AS BIGINT) AS n_chars
    FROM documents WHERE n_chars >= {_OBS_MIN_CHARS}
    """,
)
def q_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality filter with ``df.observe`` pipeline-health metrics riding
    the SAME scan: the returned rows are the filtered documents (what
    the gate verifies); the attached ``Observation`` exports
    rows-in/rows-kept/chars-kept counters computed in-plan — Spark's
    native accumulator surface for production observability, with no
    second job and no extra pass (``tests`` assert the counters match
    an independent recomputation). At 100 TB this is the difference
    between free health metrics and doubling the pipeline's scan bill.
    """
    d = table(spark, sf_dir, "documents")
    filtered, _obs = observed_quality_filter(d)
    return filtered.select(
        "doc_id", "lang", "source", F.col("n_chars").cast("long").alias("n_chars")
    )


# ---------------------------------------------------------------------------
# Coordinated (join-consistent) sampling across tables
# ---------------------------------------------------------------------------

#: keep a customer iff md5(custkey) starts below this 2-hex threshold
#: ('1a' = 26/256 ~ 10%) — the same rule applied to every table keyed by
#: the entity, so samples stay join-consistent
_COORD_MAX_HEX = "1a"


@query(
    "q_sample_coordinated",
    oracle=f"""
    WITH sc AS (
        SELECT c_custkey FROM customer
        WHERE SUBSTR(MD5(CAST(c_custkey AS VARCHAR)), 1, 2) < '{_COORD_MAX_HEX}'
    ),
    so AS (
        SELECT o_custkey, o_totalprice FROM orders
        WHERE SUBSTR(MD5(CAST(o_custkey AS VARCHAR)), 1, 2) < '{_COORD_MAX_HEX}'
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM sc) AS n_customers,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM so) AS n_orders,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM so
            WHERE o_custkey NOT IN (SELECT c_custkey FROM sc)) AS n_orphans
    """,
)
def q_sample_coordinated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coordinated sampling: the SAME content-addressed rule —
    ``md5(entity_key) < threshold`` — applied independently to every
    table keyed by the entity, so a ~10% customer sample and its orders
    stay join-consistent WITHOUT any coordination join (random
    per-table sampling breaks every FK; sampling one table and
    semi-joining the rest costs a shuffle per table). The orphan count
    is the verification: it must be exactly 0 whenever the base data
    has no orphans, because membership is a pure function of the key.

    Each table filters at its own scan — map-only, embarrassingly
    parallel, stable under data growth (the md5 rule never resamples
    existing keys). The final census is three scalar aggregates.
    """
    bucket = lambda c: F.substring(F.md5(c.cast("string")), 1, 2)  # noqa: E731
    sc = (
        table(spark, sf_dir, "customer")
        .filter(bucket(F.col("c_custkey")) < _COORD_MAX_HEX)
        .select("c_custkey")
    )
    so = (
        table(spark, sf_dir, "orders")
        .filter(bucket(F.col("o_custkey")) < _COORD_MAX_HEX)
        .select("o_custkey")
    )
    orphans = so.join(
        sc, so.o_custkey == sc.c_custkey, "left_anti"
    )
    return (
        sc.agg(F.count("*").cast("long").alias("n_customers"))
        .crossJoin(so.agg(F.count("*").cast("long").alias("n_orders")))
        .crossJoin(orphans.agg(F.count("*").cast("long").alias("n_orphans")))
    )


# ---------------------------------------------------------------------------
# Quantile normalization across sources (distribution alignment)
# ---------------------------------------------------------------------------


@query(
    "q_quantile_normalize",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, source, n_chars,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id) AS r,
               COUNT(*) OVER (PARTITION BY source) AS n_s
        FROM documents
    ),
    g AS (
        SELECT n_chars AS q_value,
               ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS gidx,
               COUNT(*) OVER () AS n
        FROM documents
    )
    SELECT r.doc_id, r.source, CAST(r.n_chars AS BIGINT) AS n_chars,
           CAST(g.q_value AS BIGINT) AS q_value
    FROM ranked r
    JOIN g ON g.gidx = CASE WHEN r.n_s = 1 THEN (g.n + 1) // 2
                            ELSE (r.r - 1) * (g.n - 1) // (r.n_s - 1) + 1 END
    """,
)
def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization: each document's length maps to the GLOBAL
    length distribution's value at the same within-source rank fraction
    — the distribution-alignment step that makes per-source scores
    comparable before mixing (microarray-style quantile normalization,
    applied to corpus features).

    Scale shape: BOTH rank passes use the band trick — fixed-width
    length bands, per-band counts to running offsets (tiny windows),
    in-band ``row_number`` parallel across bands — so neither the
    per-source rank nor the GLOBAL rank ever runs a single-task window
    over the corpus (a bare global ``row_number`` is the textbook
    scale-killer this plan replaces; same machinery as
    ``q_curriculum_interleave``). The target index is pure integer
    arithmetic — ``(r−1)(N−1) div (n_s−1) + 1`` — engine-exact, and
    the final lookup is an equi-join on that index. The oracle states
    the naive two-window definition.
    """
    return quantile_normalize(table(spark, sf_dir, "documents"))


def quantile_normalize(d: DataFrame) -> DataFrame:
    """Quantile-normalization plan over a documents frame (shared with
    ``tools/scale_stress.py``)."""
    base = d.select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars")
    ).withColumn("band", (F.col("n_chars") / _CURR_BAND_W).cast("long"))

    def banded_rank(df: DataFrame, part_cols: list[str]) -> DataFrame:
        """row_number over (part_cols ORDER BY n_chars, doc_id) without a
        single-task window: per-(part, band) counts -> running offsets +
        in-band ranks."""
        key = part_cols + ["band"]
        counts = df.groupBy(*key).agg(F.count("*").alias("c"))
        off_w = (
            W.partitionBy(*part_cols) if part_cols else W.partitionBy()
        )
        offsets = counts.withColumn(
            "off",
            F.coalesce(
                F.sum("c").over(
                    off_w.orderBy("band").rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        ).select(*key, "off")
        in_band = F.row_number().over(
            W.partitionBy(*key).orderBy("n_chars", "doc_id")
        )
        return (
            df.withColumn("band_rank", in_band)
            .join(F.broadcast(offsets), key)
            .withColumn("r", (F.col("off") + F.col("band_rank")).cast("long"))
            .drop("band_rank", "off")
        )

    per_source = banded_rank(base, ["source"])
    n_s = base.groupBy("source").agg(F.count("*").alias("n_s"))
    ranked = per_source.join(F.broadcast(n_s), "source")
    g = banded_rank(base, []).select(
        F.col("r").alias("gidx"), F.col("n_chars").alias("q_value")
    )
    n_total = base.agg(F.count("*").alias("n"))
    ti = F.when(
        F.col("n_s") == 1, F.expr("(n + 1) div 2")
    ).otherwise(F.expr("(r - 1) * (n - 1) div (n_s - 1) + 1"))
    return (
        ranked.crossJoin(F.broadcast(n_total))
        .withColumn("ti", ti)
        .join(g, F.col("ti") == g.gidx)
        .select("doc_id", "source", "n_chars", "q_value")
    )


# ---------------------------------------------------------------------------
# Corpus-prep pipeline v2: the round-6 operators composed as ONE plan
# ---------------------------------------------------------------------------


@query(
    "q_pipeline_corpus_v2",
    oracle=f"""
    WITH segs AS (
        SELECT doc_id, k,
               ARRAY_TO_STRING(wd[k*4+1 : k*4+4], ' ') AS seg
        FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS wd FROM documents)
        CROSS JOIN UNNEST(RANGE(0, (LEN(wd)-1) // 4 + 1)) AS t(k)
    ),
    segdf AS (
        SELECT MD5(seg) AS h, COUNT(DISTINCT doc_id) AS df
        FROM segs GROUP BY MD5(seg)
    ),
    boiler AS (
        SELECT s.doc_id,
               SUM(CASE WHEN d.df >= 3 THEN 1 ELSE 0 END) AS dropped,
               COUNT(*) AS segs
        FROM segs s JOIN segdf d ON MD5(s.seg) = d.h
        GROUP BY s.doc_id
    ),
    clean AS (
        SELECT doc_id FROM boiler WHERE dropped * 2 <= segs
    ),
    keep AS (
        SELECT doc_id FROM (
            SELECT d.doc_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY MD5(d.text)
                       ORDER BY COALESCE(TRY_CAST(REGEXP_EXTRACT(
                           d.source, '([0-9]+)', 1) AS INT), 999),
                           d.doc_id
                   ) AS rn
            FROM documents d JOIN clean c ON d.doc_id = c.doc_id
        ) WHERE rn = 1
    ),
    final AS (
        SELECT d.doc_id, d.source, d.n_chars
        FROM documents d JOIN keep k ON d.doc_id = k.doc_id
        WHERE d.n_chars >= 150
    ),
    ranked AS (
        SELECT doc_id, source, n_chars,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id) AS src_rank
        FROM final
    ),
    srcs AS (
        SELECT source,
               ROW_NUMBER() OVER (ORDER BY source) AS src_idx,
               COUNT(*) OVER () AS n_sources
        FROM (SELECT DISTINCT source FROM final)
    )
    SELECT r.doc_id, r.source, CAST(r.n_chars AS BIGINT) AS n_chars,
           CAST((r.src_rank - 1) * s.n_sources + s.src_idx AS BIGINT)
               AS sched_pos
    FROM ranked r JOIN srcs s ON r.source = s.source
    """,
)
def q_pipeline_corpus_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-6 corpus-prep chain as ONE declarative plan:
    (1) corpus-frequency boilerplate gate — drop documents that are
    mostly repeated segments (the ``q_strip_boilerplate`` df machinery
    as a document filter); (2) cross-source exact dedup with the
    curated-source keep rule (``q_dedup_cross_source``); (3) a length
    quality floor; (4) the curriculum schedule over the survivors
    (``q_curriculum_interleave``'s two-level banded rank). Catalyst
    sees the whole chain: the boilerplate df shuffle keys on md5
    segments, the dedup window on md5 docs, and the curriculum rank on
    (source, band) — each stage's filter shrinks the next stage's
    input, and nothing re-reads the corpus between stages. This v2
    supersedes ``q_pipeline_llm_prep``'s quality→dedup→split chain
    with the round-6 operator generation.
    """
    d = table(spark, sf_dir, "documents")
    # stage 1: boilerplate-dominated docs out (>50% repeated segments)
    from .text import strip_boilerplate

    census = strip_boilerplate(spread(d)).select("doc_id", "n_segs", "n_dropped")
    clean = census.filter(
        F.col("n_dropped") * 2 <= F.col("n_segs")
    ).select("doc_id")
    survivors = d.join(clean, "doc_id")
    # stage 2: cross-source priority dedup (keep the curated copy)
    prio = F.coalesce(
        F.regexp_extract(F.col("source"), r"([0-9]+)", 1).try_cast("int"),
        F.lit(999),
    )
    rn = F.row_number().over(
        W.partitionBy(F.md5(F.col("text"))).orderBy(prio.asc(), F.col("doc_id").asc())
    )
    kept = survivors.withColumn("rn", rn).filter(F.col("rn") == 1)
    # stage 3: quality floor; stage 4: curriculum schedule
    final = kept.filter(F.col("n_chars") >= 150).select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars")
    )
    sched = curriculum_schedule(final)
    return sched.join(final.select("doc_id", "n_chars"), "doc_id").select(
        "doc_id", "source", "n_chars", "sched_pos"
    )


# ---------------------------------------------------------------------------
# RFM customer segmentation (fixed-threshold scoring)
# ---------------------------------------------------------------------------

#: fixed scoring thresholds (recency in days since the corpus' last
#: order; frequency in orders; monetary in total price). Fixed bands —
#: not percentiles — keep the scoring stable as the corpus grows and
#: the whole operator scan-shaped; a percentile-banded variant would
#: reuse the q_quantile_normalize banded-rank machinery.
_RFM_R_DAYS = (180, 540)
_RFM_F_ORDERS = (5, 12)
_RFM_M_PRICE = (1_000_000.0, 3_000_000.0)


@query(
    "q_rfm_segments",
    oracle=f"""
    WITH cust AS (
        SELECT o_custkey,
               DATE_DIFF('day', CAST(MAX(o_orderdate) AS DATE),
                         (SELECT CAST(MAX(o_orderdate) AS DATE) FROM orders))
                   AS r_days,
               COUNT(*) AS f,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS m
        FROM orders GROUP BY o_custkey
    ),
    scored AS (
        SELECT o_custkey,
               CASE WHEN r_days <= {_RFM_R_DAYS[0]} THEN 3
                    WHEN r_days <= {_RFM_R_DAYS[1]} THEN 2 ELSE 1 END AS r,
               CASE WHEN f >= {_RFM_F_ORDERS[1]} THEN 3
                    WHEN f >= {_RFM_F_ORDERS[0]} THEN 2 ELSE 1 END AS fs,
               CASE WHEN m >= {_RFM_M_PRICE[1]} THEN 3
                    WHEN m >= {_RFM_M_PRICE[0]} THEN 2 ELSE 1 END AS ms,
               m
        FROM cust
    )
    SELECT CAST(r AS INT) || CAST(fs AS INT) || CAST(ms AS INT) AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(CAST(SUM(m) AS DECIMAL(38,2)) AS VARCHAR) AS total_monetary
    FROM scored GROUP BY segment
    """,
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: every customer scores 1-3 on Recency
    (days since their last order, relative to the corpus' last order),
    Frequency (order count), and Monetary (exact decimal total), and
    the 27 possible "RFM cells" report their population and value — the
    segmentation grid CRM targeting runs on.

    One pass: a per-customer aggregate (max date, count, exact decimal
    sum — map-side partials on the customer key), the corpus max date
    as a broadcast scalar, then pure CASE arithmetic and a ≤27-key
    census. Fixed thresholds keep it scan-shaped and growth-stable
    (percentile bands would reuse the ``q_quantile_normalize``
    machinery). Day arithmetic is integer DATE_DIFF in both engines.
    """
    o = table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.max(F.to_date("o_orderdate")).alias("last_day"),
        F.count("*").alias("f"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("m"),
    )
    gmax = o.agg(F.max(F.to_date("o_orderdate")).alias("gday"))
    scored = cust.crossJoin(F.broadcast(gmax)).select(
        F.datediff(F.col("gday"), F.col("last_day")).alias("r_days"),
        "f",
        "m",
    )
    r = (
        F.when(F.col("r_days") <= _RFM_R_DAYS[0], 3)
        .when(F.col("r_days") <= _RFM_R_DAYS[1], 2)
        .otherwise(1)
    )
    fs = (
        F.when(F.col("f") >= _RFM_F_ORDERS[1], 3)
        .when(F.col("f") >= _RFM_F_ORDERS[0], 2)
        .otherwise(1)
    )
    ms = (
        F.when(F.col("m") >= _RFM_M_PRICE[1], 3)
        .when(F.col("m") >= _RFM_M_PRICE[0], 2)
        .otherwise(1)
    )
    seg = F.concat(r.cast("string"), fs.cast("string"), ms.cast("string"))
    return (
        scored.select(seg.alias("segment"), "m")
        .groupBy("segment")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.sum("m").cast("decimal(38,2)").cast("string").alias("total_monetary"),
        )
    )


#: DSIR-style importance weights: hashed-unigram bucket count, add-1
#: smoothing, fixed-point log-ratio scale (same 1e6 convention as
#: q_drift_kl — quantize each term BEFORE summation so the reduction is
#: integer and order-free)
_DSIR_BUCKETS = 256
_DSIR_FP = 1_000_000


@query(
    "q_sample_importance",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang,
               CAST(('0x' || SUBSTR(MD5(UNNEST(STRING_SPLIT(LOWER(text), ' '))),
                     1, 15)) AS UBIGINT)::BIGINT % {_DSIR_BUCKETS} AS b
        FROM documents
    ),
    raw_b AS (SELECT b, COUNT(*) AS n_raw FROM toks GROUP BY b),
    tgt_b AS (SELECT b, COUNT(*) AS n_tgt FROM toks WHERE lang = 'en' GROUP BY b),
    tots AS (
        SELECT (SELECT COUNT(*) FROM toks) AS n_raw_tot,
               (SELECT COUNT(*) FROM toks WHERE lang = 'en') AS n_tgt_tot
    ),
    ratios AS (
        SELECT r.b,
               CAST(FLOOR(LN(
                   ((COALESCE(t.n_tgt, 0) + 1.0)
                        / (tots.n_tgt_tot + {_DSIR_BUCKETS}))
                   / ((r.n_raw + 1.0) / (tots.n_raw_tot + {_DSIR_BUCKETS}))
               ) * {_DSIR_FP} + 0.5) AS BIGINT) AS lr_fp
        FROM raw_b r LEFT JOIN tgt_b t USING (b) CROSS JOIN tots
    )
    SELECT toks.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(ratios.lr_fp) AS BIGINT) AS logweight_fp
    FROM toks JOIN ratios USING (b)
    GROUP BY toks.doc_id
    """,
)
def q_sample_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023):
    score every document by how much its hashed-unigram distribution
    looks like the TARGET domain (here: the ``lang='en'`` slice) vs the
    raw corpus — ``logweight_fp`` is the per-doc sum of per-token
    log(p_target/p_raw) over {_DSIR_BUCKETS} hashed buckets with add-1
    smoothing, the exact statistic DSIR resamples by to select
    web-scale pretraining data that matches a high-quality target.

    Scale/determinism: ONE token explode feeds both bucket censuses
    (target is a filtered re-aggregation, not a rescan); the 256-row
    log-ratio table broadcasts back onto the token stream; each
    log-ratio is quantized to fixed-point BIGINT BEFORE the per-doc sum
    (integer reduction — order-free and engine-identical, the
    ``q_drift_kl`` convention). Bucket hashing is md5-based, so the
    weights are content-addressed and stable under corpus growth.
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.lower("text"), " ")).alias("tok"),
    ).select(
        "doc_id",
        "lang",
        (
            F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
            % _DSIR_BUCKETS
        ).alias("b"),
    )
    raw_b = toks.groupBy("b").agg(F.count("*").alias("n_raw"))
    tgt_b = (
        toks.filter(F.col("lang") == "en")
        .groupBy("b")
        .agg(F.count("*").alias("n_tgt"))
    )
    tots = toks.agg(
        F.count("*").alias("n_raw_tot"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("n_tgt_tot"),
    )
    p_t = (F.coalesce(F.col("n_tgt"), F.lit(0)) + 1.0) / (
        F.col("n_tgt_tot") + _DSIR_BUCKETS
    )
    p_r = (F.col("n_raw") + 1.0) / (F.col("n_raw_tot") + _DSIR_BUCKETS)
    ratios = (
        raw_b.join(tgt_b, "b", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "b",
            F.floor(F.log(p_t / p_r) * _DSIR_FP + F.lit(0.5))
            .cast("long")
            .alias("lr_fp"),
        )
    )
    return (
        toks.join(F.broadcast(ratios), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("lr_fp").cast("long").alias("logweight_fp"),
        )
    )
