"""Measurement from outside the program: process CPU, Spark's status store,
and wrappers around the public functions of the layers a traced pass splits.

Nothing here changes what a gate computes. A traced pass takes a job-id and
stage-id mark before and after each call into a layer, then reads the jobs
and stages created between the marks from the status store once the gate is
done. Job ids are global to the SparkContext, so micro-batch jobs that run on
a streaming query's own thread land in the window of the call that started
the query, which job groups would miss.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import Counter, defaultdict
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")
MB = 1 << 20


# ------------------------------------------------------------------ /proc


def _stat(pid: int) -> tuple[int, int] | None:
    """(parent pid, CPU ticks of the process and its reaped children)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[0] is field 3 (state); utime..cstime are fields 14..17
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by ``root`` and every live descendant,
    including descendants that already exited and were reaped. The driver
    process, the JVM it launched and the JVM's Python workers all count."""
    root = root or os.getpid()
    parent, ticks = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                parent[int(name)], ticks[int(name)] = st
    children = defaultdict(list)
    for pid, ppid in parent.items():
        children[ppid].append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / _TICK


def steal_s() -> float:
    """CPU seconds the hypervisor has run other guests on this machine's
    CPUs so far, summed over CPUs (``steal`` in /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(dirpath, name)).st_size
            except OSError:
                pass
    return total / MB


# ------------------------------------------------------------ status store


@dataclass
class Window:
    """Jobs and stages created by one call, with its wall-clock interval."""

    jobs: tuple[int, int]
    stages: tuple[int, int]
    t0: float
    t1: float


@dataclass
class LayerTotals:
    calls: int = 0
    wall_s: float = 0.0
    idle_s: float = 0.0
    jobs: int = 0
    stages: int = 0
    skipped_stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_mb: float = 0.0
    shuffle_records: int = 0
    input_mb: float = 0.0
    output_mb: float = 0.0
    output_rows: int = 0

    def add(self, other: "LayerTotals") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


class SparkStatus:
    """Reads jobs and stages from the driver's status store over py4j."""

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._dag = sc.dagScheduler()
        self._store = sc.statusStore()
        self._bus = sc.listenerBus()
        self._sc = sc
        jvm = spark._jvm
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._json.registerModule(getattr(scala_module, "MODULE$"))

    def mark(self) -> tuple[int, int]:
        return self._dag.nextJobId(), self._dag.nextStageId()

    def drain(self) -> None:
        """Block until every posted listener event has been handled, so the
        status store and the streaming listener have seen all of them."""
        self._bus.waitUntilEmpty()

    def fetch(self, jobs: range, stages: range) -> tuple[dict, dict]:
        self.drain()
        job = {j: json.loads(self._json.writeValueAsString(self._store.job(j))) for j in jobs}
        stage = {}
        for s in stages:
            stage[s] = json.loads(self._json.writeValueAsString(self._store.lastStageAttempt(s)))
        return job, stage

    def cached(self) -> tuple[int, float]:
        """(RDDs with cached partitions, their memory + disk MB)."""
        n, size = 0, 0
        for info in self._sc.getRDDStorageInfo():
            if info.numCachedPartitions() > 0:
                n += 1
                size += info.memSize() + info.diskSize()
        return n, size / MB


def totals(w: Window, jobs: dict, stages: dict) -> LayerTotals:
    """Sum the status-store records of window ``w``."""
    out = LayerTotals(calls=1, wall_s=w.t1 - w.t0)
    busy = []
    for j in range(*w.jobs):
        d = jobs[j]
        out.jobs += 1
        t0 = (d.get("submissionTime") or 0) / 1000
        t1 = (d.get("completionTime") or w.t1 * 1000) / 1000
        busy.append((max(t0, w.t0), min(t1, w.t1)))
    covered, end = 0.0, w.t0
    for a, b in sorted(busy):
        a = max(a, end)
        if b > a:
            covered += b - a
            end = b
    out.idle_s = max(0.0, out.wall_s - covered)
    for s in range(*w.stages):
        d = stages[s]
        if d["status"] == "SKIPPED":
            out.skipped_stages += 1
            continue
        out.stages += 1
        out.tasks += d["numTasks"]
        out.failed_tasks += d["numFailedTasks"]
        out.run_s += d["executorRunTime"] / 1e3
        out.cpu_s += d["executorCpuTime"] / 1e9
        out.gc_s += d["jvmGcTime"] / 1e3
        out.shuffle_mb += (d["shuffleReadBytes"] + d["shuffleWriteBytes"]) / MB
        out.shuffle_records += d["shuffleReadRecords"] + d["shuffleWriteRecords"]
        out.input_mb += d["inputBytes"] / MB
        out.output_mb += d["outputBytes"] / MB
        out.output_rows += d["outputRecords"]
    return out


# ---------------------------------------------------------------- tracing


def _stream_listener_class():
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamProgress(StreamingQueryListener):
        """Keeps every micro-batch progress report."""

        def __init__(self):
            self.reports: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.reports.append(
                {
                    "query": str(p.id),
                    "rows": p.numInputRows,
                    "ms": dict(p.durationMs),
                    "state_rows": sum(op.numRowsTotal for op in p.stateOperators),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return StreamProgress


@dataclass
class GateTrace:
    """Everything one traced gate execution produced."""

    gate: str
    build: LayerTotals
    action: LayerTotals
    layers: dict[str, LayerTotals] = field(default_factory=dict)
    tables_mb: float = 0.0
    cached_rdds: int = 0
    cached_mb: float = 0.0
    stream: dict = field(default_factory=dict)


class Tracer:
    """Wraps the layers' public functions for the life of a traced run.

    ``run_gate`` runs one gate with its windows open. Wrapped calls record a
    window only while a gate's build is open and only for the outermost call
    of a layer; otherwise they pass straight through.
    """

    # layer name -> (module, function names)
    LAYERS = {
        "fit": (
            ("bigdata_lab02_spark.operators.kmeans", ("kmeans_cosine", "kmeans_parallel_init", "weighted_recluster_step")),
            ("bigdata_lab02_spark.operators.graph", ("pagerank",)),
        ),
        "stream": (
            ("bigdata_lab02_spark.streaming", ("run_stream_to_memory",)),
            ("bigdata_lab02_spark.streaming.events", ("run_stream_to_memory",)),
        ),
    }
    WRITER_METHODS = ("parquet", "save", "json", "csv", "text", "orc", "saveAsTable", "insertInto")

    def __init__(self, spark, status: SparkStatus):
        import importlib

        from pyspark.sql import DataFrameReader, DataFrameWriter

        self.spark = spark
        self.status = status
        self.fired: Counter = Counter()
        self._restore: list = []
        self._current: dict | None = None
        self._depth: Counter = Counter()
        self.probe_s = 0.0
        for layer, targets in self.LAYERS.items():
            for module_name, names in targets:
                module = importlib.import_module(module_name)
                for name in names:
                    self._wrap(module, name, layer)
        for name in self.WRITER_METHODS:
            self._wrap(DataFrameWriter, name, "sink")
        self._wrap_reader(DataFrameReader)
        self.listener = _stream_listener_class()()

    def begin_pass(self) -> None:
        """Start one traced pass: listen to streaming progress and zero the
        clock of time spent inside the probes."""
        t0 = time.time()
        self.spark.streams.addListener(self.listener)
        self.probe_s = time.time() - t0

    def end_pass(self) -> float:
        """End the traced pass; return the wall seconds it spent in probes."""
        t0 = time.time()
        self.spark.streams.removeListener(self.listener)
        return self.probe_s + time.time() - t0

    def close(self) -> None:
        for owner, name, original in reversed(self._restore):
            setattr(owner, name, original)
        self._restore.clear()

    def _wrap(self, owner, name: str, layer: str) -> None:
        original = getattr(owner, name)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            cur = self._current
            if cur is None or not cur["in_build"] or self._depth[layer]:
                return original(*args, **kwargs)
            self._depth[layer] += 1
            p0 = time.time()
            m0, t0 = self.status.mark(), time.time()
            self.probe_s += t0 - p0
            try:
                return original(*args, **kwargs)
            finally:
                t1, m1 = time.time(), self.status.mark()
                self.probe_s += time.time() - t1
                self._depth[layer] -= 1
                self.fired[layer] += 1
                cur["windows"].append((layer, Window((m0[0], m1[0]), (m0[1], m1[1]), t0, t1)))

        setattr(owner, name, wrapper)
        self._restore.append((owner, name, original))

    def _wrap_reader(self, owner) -> None:
        original = owner.parquet

        @functools.wraps(original)
        def parquet(reader, *paths, **kwargs):
            cur = self._current
            if cur is not None:
                cur["paths"].update(paths)
            return original(reader, *paths, **kwargs)

        owner.parquet = parquet
        self._restore.append((owner, "parquet", original))

    def run_gate(self, name: str, build, materialize) -> GateTrace:
        """Run ``build()`` then ``materialize(df)`` with the layer windows
        open, then resolve the windows against the status store."""
        p0 = time.time()
        cur = {"in_build": True, "windows": [], "paths": set()}
        n_reports = len(self.listener.reports)
        self._current = cur
        try:
            m0, t0 = self.status.mark(), time.time()
            self.probe_s += t0 - p0
            df = build()
            t1 = time.time()
            m1 = self.status.mark()
            cur["in_build"] = False
            p1 = time.time()
            self.probe_s += p1 - t1
            materialize(df)
            t2 = time.time()
            m2 = self.status.mark()
        finally:
            self._current = None
        p2 = time.time()
        build_w = Window((m0[0], m1[0]), (m0[1], m1[1]), t0, t1)
        action_w = Window((m1[0], m2[0]), (m1[1], m2[1]), p1, t2)
        jobs, stages = self.status.fetch(range(m0[0], m2[0]), range(m0[1], m2[1]))
        trace = GateTrace(name, totals(build_w, jobs, stages), totals(action_w, jobs, stages))
        for layer, w in cur["windows"]:
            trace.layers.setdefault(layer, LayerTotals()).add(totals(w, jobs, stages))
        trace.tables_mb = sum(os.path.getsize(p) for p in cur["paths"] if os.path.isfile(p)) / MB
        trace.cached_rdds, trace.cached_mb = self.status.cached()
        trace.stream = self._stream_summary(self.listener.reports[n_reports:])
        self.probe_s += time.time() - p2
        return trace

    @staticmethod
    def _stream_summary(reports: list[dict]) -> dict:
        last_state: dict[str, int] = {}
        out = Counter()
        for r in reports:
            ms = r["ms"]
            out["batches"] += 1
            out["input_rows"] += r["rows"]
            out["add_batch_s"] += ms.get("addBatch", 0) / 1e3
            out["planning_s"] += ms.get("queryPlanning", 0) / 1e3
            out["commit_s"] += (ms.get("walCommit", 0) + ms.get("commitOffsets", 0)) / 1e3
            last_state[r["query"]] = r["state_rows"]
        out["state_rows"] = sum(last_state.values())
        return dict(out)
