#!/usr/bin/env python
"""Run every registered query against its DuckDB oracle and report parity.

Usage: python tools/run_parity.py [sf_dir] [query_name ...]

This mirrors what the driver's t2 gate does at sf0.01; run it at sf0.001
while iterating (fast) and at sf0.01 before committing a milestone.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark_excel_datasource_spark.plans.registry import ORACLES, load_all_queries
from pyspark_excel_datasource_spark.session import get_session
from pyspark_excel_datasource_spark.testing import compare_query


def main() -> int:
    args = [a for a in sys.argv[1:]]
    sf_dir = args[0] if args and args[0].startswith("/") else "/root/testdata/sf0.001"
    names = [a for a in args if not a.startswith("/")]

    queries = load_all_queries()
    if names:
        queries = {k: v for k, v in queries.items() if k in names}

    # SPARK_GRAFT_SHUFFLE overrides the partition count — the
    # cluster-shape smoke (`=200`, the multi-executor default) proves no
    # query's determinism depends on the local partitioning (the
    # md5/decimal conventions make results partition-count-invariant;
    # this is the sweep that checks it)
    import os

    shuffle = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "8"))
    spark = get_session("parity", cpus=8, shuffle_partitions=shuffle)
    failures = 0
    for name, fn in queries.items():
        t0 = time.perf_counter()
        try:
            df = fn(spark, sf_dir)
            if name in ORACLES:
                rep = compare_query(df, ORACLES[name], sf_dir)
                status = "OK " if rep["ok"] and not rep["problems"] else (
                    "ok?" if rep["ok"] else "FAIL"
                )
                if not rep["ok"]:
                    failures += 1
                print(
                    f"{status} {name:24s} rows={rep['spark_rows']:>7} "
                    f"({time.perf_counter()-t0:5.1f}s)"
                )
                for p in rep["problems"]:
                    print(f"      {p[:600]}")
            else:
                n = df.count()
                print(f"ROWS {name:24s} rows={n:>7} ({time.perf_counter()-t0:5.1f}s) [no oracle]")
                if n <= 0:
                    failures += 1
                    print("      expected >0 rows")
        except Exception as exc:  # noqa: BLE001
            failures += 1
            print(f"ERR  {name:24s} {type(exc).__name__}: {str(exc)[:500]}")
    print(json.dumps({"failures": failures, "total": len(queries)}))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
