"""Measurement probes: process-tree CPU and memory, Spark's status store,
streaming progress, and in-memory spans.

Everything here reads state the program already exposes (``/proc``, the
SparkContext's ``AppStatusStore``, ``StreamingQueryProgress``); nothing
reaches into the package under test.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def process_start_time() -> float:
    """Wall-clock time (``time.time()`` scale) at which this process started."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
    return btime + start_ticks / _TICK


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:  # the process ended between listing and reading
        return None


class ProcessTree:
    """This process and every descendant: the Spark driver JVM it
    launched, the JVM's Python workers and streaming runners."""

    def __init__(self) -> None:
        self.root = os.getpid()

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = defaultdict(list)
        for name in os.listdir("/proc"):
            if name.isdigit():
                fields = _stat_fields(int(name))
                if fields:
                    children[int(fields[1])].append(int(name))
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def cpu_s(self) -> float:
        """CPU seconds used by the tree so far. Each live process counts
        its own time plus that of the children it has reaped, so a worker
        that exits between two readings is still counted once."""
        total = 0
        for pid in self.pids():
            fields = _stat_fields(pid)
            if fields:
                total += sum(int(x) for x in fields[11:15])
        return total / _TICK

    def rss_mb(self) -> float:
        total = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1])
            except OSError:
                pass
        return total * _PAGE / 2**20


class RssSampler:
    """Samples the tree's resident memory on a background thread; the
    peak is read per measured phase with :meth:`reset` / :attr:`peak_mb`."""

    INTERVAL_S = 0.2

    def __init__(self, tree: ProcessTree) -> None:
        self.tree = tree
        self.peak_mb = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            rss = self.tree.rss_mb()
            with self._lock:
                self.peak_mb = max(self.peak_mb, rss)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def reset(self) -> None:
        with self._lock:
            self.peak_mb = self.tree.rss_mb()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class SparkStatus:
    """Per-job stage metrics from the SparkContext's ``AppStatusStore``
    (the store behind the web UI and its REST API; it is kept even with
    the UI disabled)."""

    #: StageData getter -> metric name; executorCpuTime is in ns.
    STAGE_FIELDS = {
        "executorRunTime": "spark.executor_run_ms",
        "executorCpuTime": "spark.executor_cpu_ms",
        "shuffleReadBytes": "spark.shuffle_read_bytes",
        "shuffleWriteBytes": "spark.shuffle_write_bytes",
        "memoryBytesSpilled": "spark.spill_bytes",
        "diskBytesSpilled": "spark.spill_bytes",
        "inputBytes": "spark.input_bytes",
    }
    UNITS = {
        "spark.jobs": "count",
        "spark.stages": "count",
        "spark.tasks": "count",
        "spark.executor_run_ms": "ms",
        "spark.executor_cpu_ms": "ms",
        "spark.python_wait_ms": "ms",
        "spark.shuffle_read_bytes": "bytes",
        "spark.shuffle_write_bytes": "bytes",
        "spark.spill_bytes": "bytes",
        "spark.input_bytes": "bytes",
    }

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event posted so
        far, so the store holds the final metrics of finished jobs."""
        self._jsc.listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def job_metrics(self, job_ids) -> dict[str, float]:
        out = dict.fromkeys(
            ["spark.jobs", "spark.stages", "spark.tasks", *self.STAGE_FIELDS.values()], 0.0
        )
        seen: set[int] = set()
        for jid in job_ids:
            out["spark.jobs"] += 1
            stage_ids = self._store.job(int(jid)).stageIds()
            for i in range(stage_ids.size()):
                sid = int(stage_ids.apply(i))
                if sid in seen:
                    continue
                seen.add(sid)
                stage = self._store.lastStageAttempt(sid)
                if stage.numCompleteTasks() == 0:  # skipped: reused shuffle output
                    continue
                out["spark.stages"] += 1
                out["spark.tasks"] += stage.numCompleteTasks()
                for getter, name in self.STAGE_FIELDS.items():
                    out[name] += getattr(stage, getter)()
        out["spark.executor_cpu_ms"] /= 1e6
        out["spark.python_wait_ms"] = out["spark.executor_run_ms"] - out["spark.executor_cpu_ms"]
        return out

    def storage_mb(self) -> float:
        """Memory and disk held by cached/checkpointed RDDs right now."""
        rdds = self._store.rddList(True)
        total = 0
        for i in range(rdds.size()):
            rdd = rdds.apply(i)
            total += rdd.memoryUsed() + rdd.diskUsed()
        return total / 2**20


class StreamProgress(StreamingQueryListener):
    """Collects ``StreamingQueryProgress.durationMs`` per stream run and
    tags each run with the request that started it. ``onQueryStarted``
    runs synchronously inside ``DataStreamWriter.start()``, so the tag is
    the request in flight."""

    PHASES = {
        "addBatch": "streaming.add_batch_ms",
        "latestOffset": "streaming.latest_offset_ms",
        "queryPlanning": "streaming.query_planning_ms",
        "walCommit": "streaming.wal_commit_ms",
    }

    def __init__(self) -> None:
        self.current: str | None = None
        self.run_owner: dict[str, str] = {}
        self.durations: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        with self._lock:
            if self.current is not None:
                self.run_owner[str(event.runId)] = self.current

    def onQueryProgress(self, event) -> None:
        progress = event.progress
        with self._lock:
            acc = self.durations[str(progress.runId)]
            for phase, ms in progress.durationMs.items():
                acc[phase] += ms

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def runs_of(self, request_id: str) -> list[str]:
        with self._lock:
            return [run for run, owner in self.run_owner.items() if owner == request_id]

    def phases_of(self, request_id: str) -> dict[str, float]:
        out = dict.fromkeys(self.PHASES.values(), 0.0)
        with self._lock:
            for run, owner in self.run_owner.items():
                if owner == request_id:
                    for phase, name in self.PHASES.items():
                        out[name] += self.durations[run].get(phase, 0.0)
        return out


class Spans:
    """In-memory spans (name, start, end, parent, request), written once
    at the end of a traced run."""

    def __init__(self) -> None:
        self.records: list[dict] = []
        self._t0 = time.perf_counter()

    def open(self, name: str, parent: int | None = None, request: str | None = None) -> int:
        self.records.append(
            {
                "id": len(self.records),
                "name": name,
                "start_s": time.perf_counter() - self._t0,
                "end_s": None,
                "parent": parent,
                "request": request,
            }
        )
        return len(self.records) - 1

    def close(self, span: int) -> float:
        """End ``span``; returns its duration in seconds."""
        rec = self.records[span]
        rec["end_s"] = time.perf_counter() - self._t0
        return rec["end_s"] - rec["start_s"]

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(dict(extra, spans=self.records), fh, indent=1)
