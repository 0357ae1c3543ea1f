#!/usr/bin/env python
"""Generate PLANS.md — formatted physical plans (tree section) for the
headline + scale-path queries, as inspectable evidence of plan quality:
where filters are pushed, what broadcasts, what shuffles, what stays
whole-stage-codegen. Regenerate: python tools/gen_plans.py > PLANS.md
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark_excel_datasource_spark.plans.registry import load_all_queries
from pyspark_excel_datasource_spark.session import get_session

SF = "/root/testdata/sf0.001"

#: queries whose plans carry the scale story
SHOWCASE = (
    "q_flagship_pricing",
    "q_tpch_q5ish",
    "q_join_star3",
    "q_topk",
    "q_win_frame",
    "q_join_bucketed",
    "q_join_skew_salted",
    "q_join_range",
    "q_dedup_minhash",
    "q_sim_ann_lsh",
    "q_sessionize",
    "q_funnel",
    "q_merge_upsert",
    "q_rollup_hierarchical",
    "q_join_bloom",
    "q_tpch_q3ish",
    "q_skyline_pareto",
    "q_rolling_dau",
    "q_join_asof_nearest",
    "q_weighted_median",
    "q_join_pit",
    "q_graph_pagerank",
    "q_tpch_q8ish",
    "q_sink_parquet_bloom",
    "q_graph_cc",
    "q_scan_avro",
    "q_scan_delta",
    "q_dedup_substring",
    "q_federated_join",
    "q_nb_classify",
    "q_regression_cv",
    "q_agg_theta",
    # round-9 additions: the banded exact-NTILE template, the pruned
    # lakehouse scans, and the PCA covariance pass
    "q_quantile_bins",
    "q_scan_delta_pruned",
    "q_scan_iceberg_pruned",
    "q_eval_auc_sampled",
    # round-10 additions: the positional-delete read paths (Delta DV /
    # Iceberg v2) and the column-mapped scan — the plans must show one
    # pushed-down parquet scan + broadcast anti-join, no extra shuffle
    "q_scan_delta_mapped",
    "q_scan_delta_dv",
    "q_scan_iceberg_posdel",
    "q_scan_iceberg_eqdel",
    "q_delta_delete_dv",
    # round-11 additions: the MOR-delete and equality-delete read paths
    # (one pushed-down scan + broadcast anti-joins), the mixed-spec
    # partition-evolution union, and the banded-KS analytic
    "q_iceberg_delete_pos",
    "q_iceberg_upsert",
    "q_iceberg_partition_evolution",
    "q_drift_ks",
    "q_classify_gd",
    # round-12 additions: the census-first inference shapes (one
    # map-side-combined census, broadcast marginals), the double-banded
    # exact AP rank, and the df-capped posting-list link prediction
    "q_chi2_independence",
    "q_trend_mann_kendall",
    "q_eval_ap",
    "q_graph_common_neighbors",
    "q_survival_km",
    "q_agg_bitmap",
    "q_sql_qualify",
    "q_scan_delta_skipped",
    "q_scan_iceberg_skipped",
    # round-13 addition: the native bounded-range as-of twin — the plan
    # must show a user_id-keyed join with the timestampdiff window as a
    # residual condition, never a nested loop
    "q_join_asof_backward_tolerance",
)


def plan_tree(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    text = buf.getvalue()
    # keep the operator tree, drop the per-node detail list (ids in the
    # tree are enough to read the shape) — but keep each parquet scan's
    # pushdown evidence lines
    tree = text.split("\n\n")[0].strip()
    scans = []
    current = None
    for line in text.splitlines():
        if line.startswith("(") and "Scan parquet" in line:
            current = [line.strip()]
            scans.append(current)
        elif current is not None:
            s = line.strip()
            if s.startswith(("PushedFilters:", "ReadSchema:")):
                current.append(s)
            elif not s:
                current = None
    detail = "\n".join("\n".join(s) for s in scans if len(s) > 1)
    return tree + ("\n\n" + detail if detail else "")


def main() -> None:
    spark = get_session("plans", cpus=4, shuffle_partitions=4)
    queries = load_all_queries()
    print("# PLANS — physical plans of the headline / scale-path queries\n")
    print("Generated by tools/gen_plans.py (sf0.001, shuffle_partitions=4,")
    print("pre-AQE logical shapes — AQE further coalesces/reoptimizes at")
    print("runtime). What to look for: `PushedFilters` reach the scans,")
    print("dims `BroadcastExchange`, big sides exchange at most once per")
    print("key, `WholeStageCodegen` spans cover the compute.\n")
    for name in SHOWCASE:
        if name not in queries:
            continue
        df = queries[name](spark, SF)
        print(f"## {name}\n")
        print("```")
        print(plan_tree(df))
        print("```\n")


if __name__ == "__main__":
    main()
