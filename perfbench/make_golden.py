"""Rebuild ``golden.json``: the result hash of every registered query the
benchmark times, on the generated tables.

    python3 perfbench/make_golden.py

Each query's result is first checked against its DuckDB oracle with
``testing.compare_query``; the script stops without writing if any check
fails, or if two runs of a query hash differently.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import uuid

import run


def main() -> int:
    import datagen
    import probes
    import workloads

    ns = os.path.join(run.ROOT, ".perfbench", f"golden-{uuid.uuid4().hex[:8]}")
    try:
        spark, sf_dir, _ = run.open_session(ns)
        from pyspark_excel_datasource_spark import testing
        from pyspark_excel_datasource_spark.plans import registry

        queries = registry.load_all_queries()
        names = [t.name for types in workloads.WORKLOADS.values() for t in types if t.prepare is None]
        hashes, bad = {}, []
        for name in names:
            report = testing.compare_query(queries[name](spark, sf_dir), registry.ORACLES[name], sf_dir)
            first = workloads.result_hash(queries[name](spark, sf_dir).toArrow())
            second = workloads.result_hash(queries[name](spark, sf_dir).toArrow())
            ok = report["ok"] and first == second
            print(f"{'OK ' if ok else 'BAD'} {name} rows={report['spark_rows']} {report['problems']}", file=sys.stderr)
            if not ok:
                bad.append(name)
            hashes[name] = first
        run._stop_spark(spark, probes.ProcessTree())
    finally:
        shutil.rmtree(ns, ignore_errors=True)
    if bad:
        print(f"golden.json not written; failed: {bad}", file=sys.stderr)
        return 1
    with open(os.path.join(run.HERE, "golden.json"), "w") as fh:
        json.dump({"sf": run.SF, "table_seed": datagen.TABLE_SEED, "hashes": hashes}, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
