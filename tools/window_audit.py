#!/usr/bin/env python
"""Registry-wide unpartitioned-window audit.

Walks the FORMATTED physical plan of every registered query and reports
each Window node whose PARTITION SPEC IS EMPTY — the single-task shape
that silently serializes at 100 TB (Spark warns ``No Partition Defined
for Window operation`` at run time; this catches it at plan time).
Bounded inputs (band-count tables, |classes|-sized censuses) are fine;
row-scale inputs are the scale-killer class round 8's verdict flagged.

Detection: a Window node's ``Arguments:`` line carries 3 top-level
bracket groups when partitioned ([exprs], [partitionSpec], [orderSpec])
and 1-2 when not ([exprs] / [exprs], [orderSpec]) — verified against
Spark 4.1 formatted output for all three spellings.

The enforcement gate lives in tests/test_plan_quality.py::
test_no_cartesian_row_python_or_unjustified_global_window — every query
with such a node must carry a justification in UNPARTITIONED_WINDOW_OK.

Usage: python tools/window_audit.py [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark_excel_datasource_spark.plans.audit import (
    formatted_plan,
    unpartitioned_windows,
)
from pyspark_excel_datasource_spark.plans.registry import load_all_queries
from pyspark_excel_datasource_spark.session import get_session

SF = "/root/testdata/sf0.001"


def audit_plan(df) -> list[str]:
    return unpartitioned_windows(formatted_plan(df))


def main() -> int:
    spark = get_session("winaudit", cpus=4, shuffle_partitions=4)
    queries = load_all_queries()
    names = sys.argv[1:] or list(queries)
    for name in names:
        try:
            hits = audit_plan(queries[name](spark, SF))
        except Exception as exc:  # noqa: BLE001
            print(f"ERR  {name}: {str(exc)[:200]}", flush=True)
            continue
        if hits:
            print(f"{name:32s} {len(hits)}  {'; '.join(hits)}", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
