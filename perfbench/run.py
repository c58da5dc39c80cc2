"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload paper_dag --seed 1 --seconds 10 --trace 0

A run, from the root of a checkout of this repository:

1. points every temp file the run, its JVM and its Python workers make at a
   per-run directory under ``.perfbench_run/``, which is measured and
   deleted at the end; the gates read the repository's sf0.001 test data,
   copied read-only into ``perfbench/data/``;
2. starts the engine with ``bigdata_lab02_spark.session.get_spark`` on
   ``local[N]``, N = the CPUs this process may use, and runs one untimed
   warm-up pass; process start to the end of the warm-up is ``setup_s``;
3. checks every gate's warm-up result against its DuckDB oracle, outside
   every timed region;
4. runs timed passes until ``--seconds`` have passed, and at least one. A
   pass is one closed-loop client running the workload's gates one after
   another in an order the seed shuffles anew for every pass (the seed
   does nothing else); each result is materialized through the ``noop``
   sink. A pass the hypervisor disturbed (``STEAL_LIMIT``) is run again and
   left out of the metrics.

With ``--trace 0`` it prints the end-to-end metrics. With ``--trace 1`` the
timed passes come in blocks over one gate order: untraced and left out,
untraced, traced (``probes.py``), traced, untraced. It prints the per-layer
metrics of the traced passes and the tracing overhead: the traced passes'
wall over the untraced passes' wall, minus one. Set-up and warm-up are
untraced in both modes.

The last line of standard output is ``{"correct", "attempted", "failed",
"metrics"}``. A run that cannot run the program exits non-zero without it.
"""

from __future__ import annotations

import time

T_IMPORT = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from workloads import WORKLOADS  # noqa: E402

# The repository's test data at sf0.001 (TESTDATA.md), copied byte for byte:
# the run reads nothing outside its checkout. Read only.
DATA = HERE / "data" / "sf0.001"

MIN_PASSES = 1
# A timed pass during which the hypervisor ran other guests for more than
# this share of the machine's CPU time is disturbed: it is run again, at most
# MAX_RERUNS times, and the metrics come from the undisturbed passes (from
# all of them when none is). Steal comes from /proc/stat, summed over all of
# the machine's CPUs, so this rejects only interference that was measured.
STEAL_LIMIT = 0.05
MAX_RERUNS = 2


def _process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rindex(")") + 2:].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


PROCESS_START = T_IMPORT - _process_age_s()


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Run:
    def __init__(self, args, run_dir: Path):
        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.dirs = {k: run_dir / k for k in ("tmp", "jvmtmp", "local", "warehouse")}
        for d in self.dirs.values():
            d.mkdir(parents=True)
        self.rng = random.Random(args.seed)
        self.attempted = 0
        self.raised = 0
        self.checks: dict[str, tuple[str, str]] = {}
        self.cores = len(os.sched_getaffinity(0))

    # ------------------------------------------------------------ set-up

    def _environment(self) -> None:
        os.environ["TMPDIR"] = str(self.dirs["tmp"])
        tempfile.tempdir = None
        os.environ["SPARK_LOCAL_DIRS"] = str(self.dirs["local"])
        os.environ["SPARK_WAREHOUSE_DIR"] = str(self.dirs["warehouse"])
        os.environ["PYSPARK_PYTHON"] = sys.executable
        # the Python workers import the package from the repo root
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )
        sys.path.insert(0, str(ROOT))

    def start(self) -> None:
        self._environment()

        from bigdata_lab02_spark.session import get_spark
        from bigdata_lab02_spark.sources.tables import TABLE_NAMES

        import __spark_entry__ as entry

        t0 = time.time()
        self.spark = get_spark(
            app_name="perfbench",
            cpus=self.cores,
            extra_conf={
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.dirs['jvmtmp']} -XX:+PerfDisableSharedMem",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.session_start_s = time.time() - t0
        _log(f"session started in {self.session_start_s:.2f} s, {time.time() - PROCESS_START:.2f} s after process start")
        self.jvm = self.spark.sparkContext._gateway.proc
        queries, sql = entry.queries(), entry.oracle_sql()
        missing = [g for g in self.workload.gates if g not in queries or g not in sql]
        if missing:
            raise RuntimeError(f"gates without a query or an oracle: {missing}")
        self.queries = {g: queries[g] for g in self.workload.gates}
        self.sql = sql
        self.table_names = TABLE_NAMES

    def stop(self) -> None:
        from pyspark import SparkContext

        spark = getattr(self, "spark", None)
        if spark is None:
            return
        spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
        self.jvm.stdin.close()
        try:
            self.jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.jvm.kill()
            self.jvm.wait(timeout=30)

    # ------------------------------------------------------------ passes

    def _materialize(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def _order(self) -> list[str]:
        gates = list(self.workload.gates)
        self.rng.shuffle(gates)
        return gates

    def _build(self, gate: str):
        return self.queries[gate](self.spark, str(DATA))

    def run_pass(self, order: list[str], tracer=None, keep: bool = False) -> dict:
        """One pass over ``order``'s gates. ``keep`` returns the result
        DataFrames for the oracle check."""
        from probes import steal_s, tree_cpu_s

        traces, results, gate_s = [], {}, {}
        leftover0 = self.temp_mb() if tracer else 0.0
        cpu0, steal0 = tree_cpu_s(), steal_s()
        t0 = time.time()
        if tracer:
            tracer.begin_pass()
        for gate in order:
            self.attempted += 1
            g0 = time.time()
            try:
                if tracer:
                    traces.append(tracer.run_gate(gate, lambda g=gate: self._build(g), self._materialize))
                else:
                    df = self._build(gate)
                    self._materialize(df)
                    if keep:
                        results[gate] = df
            except Exception as e:  # a failing gate is counted, the run goes on
                self.raised += 1
                _log(f"gate {gate} raised {type(e).__name__}: {str(e).splitlines()[0][:300]}")
            gate_s[gate] = time.time() - g0
        probe_s = tracer.end_pass() if tracer else 0.0
        wall = time.time() - t0
        cpu, steal = tree_cpu_s() - cpu0, steal_s() - steal0
        _log("pass " + " ".join(f"{g}={s:.2f}" for g, s in gate_s.items()) + f" wall={wall:.2f} cpu={cpu:.2f} steal={steal:.2f}")
        out = {"wall": wall, "cpu": cpu, "steal": steal, "traces": traces, "results": results, "probe_s": probe_s}
        out["disturbed"] = steal > STEAL_LIMIT * wall * os.cpu_count()
        if tracer:
            out["leftover_mb"] = self.temp_mb() - leftover0
        return out

    def temp_mb(self) -> float:
        """MB under the run's temp dirs: what gates leave behind."""
        from probes import dir_mb

        return dir_mb(self.dirs["tmp"]) + dir_mb(self.dirs["jvmtmp"])

    def warm_up(self) -> None:
        t0 = time.time()
        warm = self.run_pass(self._order(), keep=True)
        self.setup_s = time.time() - PROCESS_START
        self.warmup_s = time.time() - t0
        self.check(warm["results"])

    def check(self, results: dict) -> None:
        from oracle import Oracle

        oracle = Oracle(str(DATA), self.sql, self.table_names)
        try:
            for gate, df in results.items():
                self.checks[gate] = oracle.check(gate, df)
                if self.checks[gate][0] != "pass":
                    _log(f"oracle {gate}: {self.checks[gate]}")
        finally:
            oracle.close()

    def timed(self) -> list[dict]:
        tracer = None
        if self.args.trace:
            from probes import SparkStatus, Tracer

            tracer = Tracer(self.spark, SparkStatus(self.spark))
        passes, reruns = [], 0
        t0 = time.time()
        try:
            while True:
                order = self._order()
                if tracer:
                    # one gate order untraced, traced, traced, untraced, for
                    # the overhead seen from outside with linear drift (host
                    # load, JIT) cancelling out; after one more untraced pass,
                    # because passes still speed up by a fifth from the
                    # second to the fourth after start
                    block = [self.run_pass(order, t) for t in (None, None, tracer, tracer, None)][1:]
                    bare_wall = (block[0]["wall"] + block[3]["wall"]) / 2
                    disturbed = any(b["disturbed"] for b in block)
                    for p in block[1:3]:
                        p.update(bare_wall=bare_wall, disturbed=disturbed)
                        passes.append(p)
                else:
                    passes.append(self.run_pass(order))
                if passes[-1]["disturbed"] and reruns < MAX_RERUNS:
                    reruns += 1
                elif len(passes) >= MIN_PASSES and time.time() - t0 >= self.args.seconds:
                    break
        finally:
            if tracer:
                tracer.close()
        if tracer:
            for layer in self.workload.fires:
                if not tracer.fired[layer]:
                    raise RuntimeError(f"the {layer} probes never fired on {self.args.workload}")
        self.disturbed = sum(p["disturbed"] for p in passes)
        return [p for p in passes if not p["disturbed"]] or passes

    # ------------------------------------------------------------ metrics

    @property
    def mismatched(self) -> int:
        return sum(1 for status, _ in self.checks.values() if status == "mismatch")

    def end_to_end(self, passes: list[dict]) -> dict:
        walls = [p["wall"] for p in passes]
        fail = (self.raised + self.mismatched) / self.attempted
        _log(
            f"{self.args.workload}: pass_s median of {len(walls)} passes "
            f"({self.disturbed} disturbed passes left out) "
            f"{[round(w, 3) for w in walls]}; fail_share {fail:.4f} "
            f"({self.raised} raised, {self.mismatched} mismatched, {self.attempted} attempted)"
        )
        return {
            "setup_s": (self.setup_s, "s"),
            "pass_s": (_median(walls), "s"),
            "cpu_s": (_median([p["cpu"] for p in passes]), "s"),
            "ok_share": (1.0 - fail, "ratio"),
        }

    def per_layer(self, passes: list[dict]) -> dict:
        from probes import LayerTotals, peak_rss_mb

        rows: dict[str, list[float]] = {}

        def put(name, value):
            rows.setdefault(name, []).append(value)

        for p in passes:
            build, action = LayerTotals(), LayerTotals()
            layers = {k: LayerTotals() for k in ("fit", "sink", "stream")}
            stream: dict[str, float] = {}
            tables_mb = 0.0
            cached = []
            for t in p["traces"]:
                build.add(t.build)
                action.add(t.action)
                for k, v in t.layers.items():
                    layers[k].add(v)
                for k, v in t.stream.items():
                    stream[k] = stream.get(k, 0) + v
                tables_mb += t.tables_mb
                cached.append((t.cached_rdds, t.cached_mb))
            for name, lt in (("build", build), ("action", action)):
                for k in ("wall_s", "idle_s", "jobs", "stages", "tasks", "run_s", "cpu_s", "shuffle_mb", "input_mb"):
                    put(f"{name}.{k}", getattr(lt, k))
            put("fit.calls", layers["fit"].calls)
            put("fit.wall_s", layers["fit"].wall_s)
            put("fit.jobs", layers["fit"].jobs)
            put("sink.output_mb", layers["sink"].output_mb)
            put("sink.output_rows", layers["sink"].output_rows)
            put("sink.write_s", layers["sink"].wall_s)
            put("sink.leftover_mb", p["leftover_mb"])
            put("stream.wall_s", layers["stream"].wall_s)
            for k in ("batches", "input_rows", "add_batch_s", "planning_s", "commit_s", "state_rows"):
                put(f"stream.{k}", stream.get(k, 0))
            run_s = build.run_s + action.run_s
            cpu_s = build.cpu_s + action.cpu_s
            stages = build.stages + action.stages
            skipped = build.skipped_stages + action.skipped_stages
            tasks = build.tasks + action.tasks
            put("exec.busy_share", run_s / (p["wall"] * self.cores))
            put("exec.offcpu_share", 1.0 - cpu_s / run_s if run_s else 0.0)
            put("exec.gc_s", build.gc_s + action.gc_s)
            put("proc.cpu_outside_tasks_s", p["cpu"] - cpu_s)
            put("stage.skipped_share", skipped / (stages + skipped) if stages + skipped else 0.0)
            put("scan.amplification", (build.input_mb + action.input_mb) / tables_mb if tables_mb else 0.0)
            put("task.failed_share", (build.failed_tasks + action.failed_tasks) / tasks if tasks else 0.0)
            put("storage.cached_rdds", max(c[0] for c in cached) if cached else 0)
            put("storage.cached_mb", max(c[1] for c in cached) if cached else 0.0)
            put("host.steal_s", p["steal"])
            put("trace.pass_s", p["wall"])
            put("trace.untraced_pass_s", p["bare_wall"])
            put("trace.overhead_share", p["wall"] / p["bare_wall"] - 1.0)
            put("trace.probe_share", p["probe_s"] / p["wall"])
        units = {"_s": "s", "_mb": "MB", "share": "ratio", "amplification": "ratio"}
        out = {}
        for name, values in rows.items():
            unit = next((u for suffix, u in units.items() if name.endswith(suffix)), "count")
            out[name] = (_median(values), unit)
        out["session.start_s"] = (self.session_start_s, "s")
        out["session.warmup_s"] = (self.warmup_s, "s")
        out["jvm.peak_rss_mb"] = (peak_rss_mb(self.jvm.pid), "MB")
        out["gate.fail_share"] = ((self.raised + self.mismatched) / self.attempted, "ratio")
        out["host.disturbed_passes"] = (self.disturbed, "count")
        return out

    def result(self, passes: list[dict]) -> dict:
        metrics = self.per_layer(passes) if self.args.trace else self.end_to_end(passes)
        failed = self.raised + self.mismatched
        proven = len(self.checks) == len(self.workload.gates) and all(
            status == "pass" for status, _ in self.checks.values()
        )
        return {
            "correct": failed == 0 and proven,
            "attempted": self.attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = _parse(argv)
    needed = [ROOT / "__spark_entry__.py", ROOT / "bigdata_lab02_spark", ROOT / "tools" / "check_oracle.py"]
    absent = [str(p.relative_to(ROOT)) for p in needed if not p.exists()]
    if absent:
        _log(f"not a checkout of the repository at {ROOT}: missing {absent}")
        return 2
    # a terminated run still stops its JVM and deletes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_root = ROOT / ".perfbench_run"
    run_dir = run_root / str(os.getpid())
    run = Run(args, run_dir)
    try:
        run.start()
        run.warm_up()
        passes = run.timed()
        result = run.result(passes)
    finally:
        try:
            run.stop()
        finally:
            _log(f"temp files left at exit: {run.temp_mb():.3f} MB, deleted")
            shutil.rmtree(run_dir, ignore_errors=True)
            try:
                run_root.rmdir()
            except OSError:
                pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
