"""Benchmark of the engine's public surface, one workload per run.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One client runs a closed loop: it sends
the next request only after the previous one returned its materialized
result. Requests go in passes; each pass runs every request type of the
workload once, in an order drawn from ``--seed``. One warm-up pass runs
first; then passes start until ``--seconds`` have elapsed, and the pass in
progress finishes. README.md explains the choices.

Everything the run writes (generated tables, fixtures, Spark scratch and
checkpoints) lives in ``.perfbench/run-*`` under the checkout and is
deleted when the run ends; traced runs also leave their spans in
``.perfbench/traces/``.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics of BENCHMARK.json
untraced, its per-layer metrics with ``--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
import uuid
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "pyspark_excel_datasource_spark"

#: scale factor of the generated tables (TPC-H ratios; 30k lineitem rows)
SF = 0.005
#: Spark task slots: the 4-core host the benchmark is defined for, never
#: more than this machine has
CPUS = min(4, len(os.sched_getaffinity(0)))
#: driver heap: local mode runs every task in the driver JVM; 2g holds the
#: largest workload here with room to spare on a 4-core, 15 GiB host
DRIVER_MEM = "2g"
#: warm-up passes before measuring: the first pass (fixture builds, first
#: calls, Python worker start-up) takes 2.5-3x a later one; see README.md
#: for why one is all the time budget allows
WARM_PASSES = 1


def _median(values):
    return statistics.median(values) if values else 0.0


def _sum_of_type_medians(records, key):
    by_type = defaultdict(list)
    for rec in records:
        by_type[rec["type"]].append(rec.get(key, 0.0))
    return sum(_median(v) for v in by_type.values())


class Runner:
    def __init__(self, ctx, types, seed, status=None, listener=None, spans=None):
        self.ctx = ctx
        self.types = types
        self.rng = random.Random(seed)
        self.status = status
        self.listener = listener
        self.spans = spans
        self.records: list[dict] = []
        self.passes: list[dict] = []

    def run_pass(self, phase: str, traced: bool = False) -> dict:
        order = self.rng.sample(self.types, len(self.types))
        index = len(self.passes)
        span = self.spans.open(f"pass.{phase}", None, None) if traced else None
        t0 = time.perf_counter()
        for rtype in order:
            self._request(rtype, index, phase, traced, span)
        info = {"index": index, "phase": phase, "traced": traced, "wall_s": time.perf_counter() - t0}
        if traced:
            self.spans.close(span)
        self.passes.append(info)
        return info

    def _request(self, rtype, pass_index, phase, traced, pass_span) -> None:
        arg = rtype.prepare(self.ctx, self.rng) if rtype.prepare else None
        rid = f"perfbench-{len(self.records)}"
        rec = {"id": rid, "type": rtype.name, "pass": pass_index, "phase": phase, "traced": traced}
        if traced:
            sc = self.ctx.spark.sparkContext
            sc.setJobGroup(rid, rtype.name)
            self.listener.current = rid
            span = self.spans.open(rtype.name, pass_span, rid)

            def step(name, fn):
                s = self.spans.open(name, span, rid)
                out = fn()
                rec[name] = self.spans.close(s)
                if name == "build":
                    self.status.settle()
                    rec["build.eager_jobs"] = len(self.status.job_ids(rid))
                return out
        else:
            def step(_name, fn):
                return fn()

        t0 = time.perf_counter()
        try:
            check = rtype.run(self.ctx, arg, step)
            rec["latency_s"] = time.perf_counter() - t0
            rec["ok"] = bool(check())
        except Exception as exc:  # one failed request must not end the run
            rec["latency_s"] = time.perf_counter() - t0
            rec["ok"] = False
            rec["error"] = repr(exc)[:400]
            traceback.print_exc(file=sys.stderr)
        if not rec["ok"]:
            print(f"perfbench: request {rtype.name} failed: {rec.get('error', 'wrong output')}", file=sys.stderr)
        if traced:
            self.spans.close(span)
            self.listener.current = None
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.status.settle()
            jobs = self.status.job_ids(rid)
            for run in self.listener.runs_of(rid):
                jobs += self.status.job_ids(run)
            rec.update(self.status.job_metrics(jobs))
            rec["cache.storage_mb"] = self.status.storage_mb()
        self.records.append(rec)


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _stop_spark(spark, tree) -> None:
    """Stop Spark, then the driver JVM, and wait until every process the
    run started has ended."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 20
    while True:
        left = [p for p in tree.pids() if p != tree.root]
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def open_session(ns: str):
    """Generate the tables and start Spark, with every file the run writes
    under ``ns``. Returns (spark, table directory, session start seconds)."""
    os.makedirs(os.path.join(ns, "tmp"))
    # Set before pyspark launches the JVM and its Python workers: workers
    # must import the package from this checkout, and every scratch file
    # must land inside the run's namespace.
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # no hsperfdata files in /tmp from the spark-submit launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(ns, "local")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(ns, "tmp")
    sys.path.insert(0, ROOT)

    import datagen
    from pyspark_excel_datasource_spark import session
    from pyspark_excel_datasource_spark.sources import excel_queries

    # A run-unique table directory: fixtures are keyed by its basename,
    # so no two runs share a fixture and each run builds its own.
    sf_dir = os.path.join(ns, f"sf{SF}-{uuid.uuid4().hex[:8]}")
    datagen.write_tables(sf_dir, SF)
    excel_queries._FIXTURE_ROOT = os.path.join(ns, "fixtures")

    t = time.perf_counter()
    spark = session.get_session(
        "perfbench",
        cpus=CPUS,
        extra_conf={
            "spark.local.dir": os.path.join(ns, "local"),
            "spark.sql.warehouse.dir": os.path.join(ns, "warehouse"),
            "spark.sql.streaming.checkpointLocation": os.path.join(ns, "checkpoints"),
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(ns, 'tmp')}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    return spark, sf_dir, time.perf_counter() - t


def bench(args, ns: str, t_process: float) -> dict:
    import datagen
    import probes
    import workloads

    with open(os.path.join(HERE, "golden.json")) as fh:
        golden = json.load(fh)
    if golden["sf"] != SF or golden["table_seed"] != datagen.TABLE_SEED:
        raise SystemExit("perfbench: golden.json was made for other tables; run make_golden.py")

    t = time.time()
    spark, sf_dir, start_s = open_session(ns)
    print(f"perfbench: tables and session ready {time.time() - t:.2f} s after {t - t_process:.2f} s of imports", file=sys.stderr)
    from pyspark_excel_datasource_spark.plans import registry

    layer: dict[str, float] = {"session.start_s": start_s}
    tree = probes.ProcessTree()
    sampler = probes.RssSampler(tree).start()
    try:
        t = time.perf_counter()
        queries = registry.load_all_queries()
        layer["registry.load_s"] = time.perf_counter() - t

        ctx = workloads.Context(spark, sf_dir, queries, golden["hashes"], os.path.join(ns, "work"))
        status = listener = spans = None
        if args.trace:
            status, listener, spans = probes.SparkStatus(spark), probes.StreamProgress(), probes.Spans()
            spark.streams.addListener(listener)
        runner = Runner(ctx, workloads.WORKLOADS[args.workload], args.seed, status, listener, spans)

        warm = [runner.run_pass("warmup") for _ in range(WARM_PASSES)]
        layer["warmup.first_calls_s"] = warm[0]["wall_s"]
        print(f"perfbench: setup {layer}, warm-up passes {[round(p['wall_s'], 2) for p in warm]}", file=sys.stderr)

        setup_s = time.time() - t_process
        cpu0 = tree.cpu_s()
        sampler.reset()
        # Passes start until --seconds have elapsed; the pass in progress
        # finishes. Traced runs measure untraced and traced passes in the
        # order U T T U, so the tracing overhead is taken in one process
        # and the speed-up from pass to pass cancels out of it.
        pattern = (False, True, True, False) if args.trace else (False,)
        deadline = time.perf_counter() + args.seconds
        timed = []
        while len(timed) < len(pattern) or time.perf_counter() < deadline:
            timed.append(runner.run_pass("timed", traced=pattern[len(timed) % len(pattern)]))
        cpu_s = (tree.cpu_s() - cpu0) / len(timed)
        peak_rss_mb = sampler.peak_mb
        if args.trace:
            status.settle()
    finally:
        sampler.stop()
        _stop_spark(spark, tree)

    print(f"perfbench: measured passes {[round(p['wall_s'], 2) for p in timed]}", file=sys.stderr)
    by_type = defaultdict(list)
    for rec in runner.records:
        if rec["phase"] == "timed" and not rec["traced"]:
            by_type[rec["type"]].append(rec["latency_s"])
    rounded = {t: [round(x, 3) for x in v] for t, v in by_type.items()}
    print(f"perfbench: measured latencies {rounded}", file=sys.stderr)
    measured = [r for r in runner.records if r["phase"] == "timed"]
    plain = [r for r in measured if not r["traced"]]
    lat = [r["latency_s"] for r in plain]
    failed = sum(not r["ok"] for r in measured)
    result = {
        "correct": failed == 0,
        "attempted": len(measured),
        "failed": failed,
        "passes": len(timed),
    }
    if not args.trace:
        # Latency is printed, not reported: on a shared host it moves with
        # the load of other tenants by more than any bound allows (README).
        p50, p90 = _median(lat), statistics.quantiles(lat, n=10)[8]
        mix_s = _sum_of_type_medians(plain, "latency_s")
        print(
            f"perfbench: mix {mix_s:.3f} s; latency p50 {p50:.3f} s, p90 {p90:.3f} s over {len(lat)} requests",
            file=sys.stderr,
        )
        result["metrics"] = {
            "setup_s": (setup_s, "s"),
            "cpu_s": (cpu_s, "s"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
        }
        return result

    traced = [r for r in measured if r["traced"]]
    for rec in traced:
        rec.update(listener.phases_of(rec["id"]))
    m = {k: (v, "s") for k, v in layer.items()}
    for key in ("build", "exec"):
        m[f"{key}_s"] = (_sum_of_type_medians(traced, key), "s")
    m["build.eager_jobs"] = (_sum_of_type_medians(traced, "build.eager_jobs"), "count")
    for key, unit in probes.SparkStatus.UNITS.items():
        m[key] = (_sum_of_type_medians(traced, key), unit)
    m["cache.storage_mb"] = (max(r["cache.storage_mb"] for r in traced), "MB")
    m["mix_s"] = (_sum_of_type_medians(plain, "latency_s"), "s")
    m["trace.mix_s"] = (_sum_of_type_medians(traced, "latency_s"), "s")
    m["trace.overhead_s"] = (m["trace.mix_s"][0] - m["mix_s"][0], "s")
    result["metrics"] = m

    # Workload-specific layers go to the trace file with the spans.
    detail = {f"q.{t}.p50_s": _median(v) for t, v in by_type.items()}
    for key in {k for r in traced for k in r if k.startswith(("sources.", "streaming."))}:
        detail[key] = _sum_of_type_medians([r for r in traced if key in r], key)
    if "q.q_iceberg_delete_pos.p50_s" in detail:
        detail["sources.iceberg.delete_read_s"] = detail["q.q_iceberg_delete_pos.p50_s"]
    trace_path = os.path.join(
        ROOT, ".perfbench", "traces", f"{args.workload}-seed{args.seed}-{int(time.time())}.json"
    )
    spans.write(
        trace_path,
        {
            "workload": args.workload,
            "seed": args.seed,
            "metrics": {k: v[0] for k, v in m.items()},
            "workload_metrics": detail,
            "passes": runner.passes,
            "requests": runner.records,
        },
    )
    print(f"perfbench: trace written to {os.path.relpath(trace_path, ROOT)}", file=sys.stderr)
    for k, v in sorted(detail.items()):
        print(f"perfbench: {k} = {v:.4f}", file=sys.stderr)
    return result


def main(argv=None) -> int:
    import probes

    t_process = probes.process_start_time()
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    ns = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    try:
        result = bench(args, ns, t_process)
    finally:
        shutil.rmtree(ns, ignore_errors=True)
    metrics = result.pop("metrics")
    print(f"perfbench: {result}", file=sys.stderr)
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    out = {k: result[k] for k in ("correct", "attempted", "failed", "metrics")}
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
