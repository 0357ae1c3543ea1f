"""Cluster-shape parity sweep (VERDICT r9 ask #7).

Every recorded verdict runs at a small local shuffle-partition count; a
real cluster defaults to ``spark.sql.shuffle.partitions=200``. The repo's
determinism conventions (quantize-before-sum BIGINT folds, md5 keys,
order-canonical reductions) are supposed to make every query's RESULT
partition-count-invariant — this suite re-proves that claim each round by
running a representative slice of the registry against the DuckDB oracle
at 200 shuffle partitions, without needing a judge session.

Run explicitly with ``pytest -m cluster_shape``; it is part of the
default suite as well (the invariance property is core, not optional).
"""

from __future__ import annotations

import os

import pytest

from pyspark_excel_datasource_spark.plans.registry import (
    ORACLES,
    load_all_queries,
)
from pyspark_excel_datasource_spark.testing import compare_query

pytestmark = pytest.mark.cluster_shape

SF_DIR = os.environ.get("SPARK_GRAFT_CLUSTER_SHAPE_SF", "/root/testdata/sf0.001")

#: representatives across the operator families: relational agg/window/join,
#: skew machinery, banded rank, MinHash/substring dedup, tf-idf text,
#: similarity (exact + anchor-IVF), PCA moments, AUC, iterative graph,
#: TPC-H composite, both lakehouse scans, streaming window, and the
#: weighted-median fixed-point fold
SLICE = (
    "q_flagship_pricing",
    "q_agg_rollup",
    "q_win_frame",
    "q_topk_group",
    "q_join_star3",
    "q_join_skew_salted",
    "q_dedup_minhash_oracled",
    "q_dedup_substring",
    "q_text_tfidf",
    "q_sim_topk",
    "q_sim_ann_ivf_oracled",
    "q_embed_pca_power",
    "q_quantile_bins",
    "q_eval_auc",
    "q_graph_pagerank",
    "q_tpch_q18ish",
    "q_scan_delta",
    "q_scan_iceberg",
    "q_stream_tumbling",
    "q_weighted_median",
    # round-10: the positional-delete read path (broadcast anti-join on
    # _metadata.row_index) must stay partition-count-invariant too
    "q_scan_delta_dv",
    # round-11: the banded-KS argmax (band offsets + within-band
    # cumsums), the fixed-point GD recurrence, the mixed-spec
    # partition-evolution union, and the MOR delete/upsert read paths
    "q_drift_ks",
    "q_classify_gd",
    "q_iceberg_partition_evolution",
    "q_iceberg_delete_pos",
    "q_iceberg_upsert",
)


@pytest.fixture(scope="module")
def spark200(spark):
    """The shared session re-pinned to the cluster-default shuffle count
    for this module, restored afterwards."""
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    yield spark
    spark.conf.set("spark.sql.shuffle.partitions", before)


@pytest.mark.parametrize("name", SLICE)
def test_parity_at_200_shuffle_partitions(spark200, name):
    queries = load_all_queries()
    assert name in queries, f"{name} left the registry; update SLICE"
    assert name in ORACLES, f"{name} has no oracle; pick an oracled twin"
    df = queries[name](spark200, SF_DIR)
    # the query wrapper's configure() must not have undone the pin
    assert spark200.conf.get("spark.sql.shuffle.partitions") == "200"
    rep = compare_query(df, ORACLES[name], SF_DIR)
    assert rep["ok"], f"{name} parity broke at 200 partitions: {rep['problems']}"
