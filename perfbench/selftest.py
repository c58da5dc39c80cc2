"""Self-test of the benchmark, on its copy of the sf0.001 test data.

    python3 perfbench/selftest.py [workload ...]

For each workload (all by default) it checks that:

1. ``run.py`` with ``--trace 0`` and with ``--trace 1`` prints, as its last
   line, a correct result whose metrics are exactly the ``end_to_end`` and
   ``per_layer`` metrics of BENCHMARK.json, each with its declared unit;
2. within one run, two traced passes with the same seed give every gate the
   same job, stage, task, shuffle-record, output-byte and output-row counts.
   Skipped-stage counts are left out: they depend on the gate order the seed
   shuffles. Shuffle bytes are compared too but only reported: a compressed
   shuffle block's size depends on the row order inside its partition, and
   after a shuffle read that order follows block-fetch completion order.

It also checks that ``run.py`` exits non-zero, printing no result, in a
directory that holds only BENCHMARK.json and the benchmark's own files.
Exits 0 when every check holds; prints what failed otherwise.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from workloads import WORKLOADS  # noqa: E402

SEED = 7
COUNTED = ("jobs", "stages", "tasks", "shuffle_records", "output_mb", "output_rows")
REPORTED = ("shuffle_mb",)


def _run(args: list[str], cwd: Path) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, *args], cwd=cwd, capture_output=True, text=True, timeout=600
    )


def _rmdir_if_empty(path: Path) -> None:
    try:
        path.rmdir()
    except OSError:
        pass


def check_metrics(workload: str, spec: dict) -> list[str]:
    errors = []
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        p = _run(
            ["perfbench/run.py", "--workload", workload, "--seed", str(SEED), "--seconds", "1", "--trace", str(trace)],
            ROOT,
        )
        if p.returncode != 0:
            errors.append(f"{workload} trace {trace}: exit {p.returncode}: {p.stderr[-1500:]}")
            continue
        result = json.loads(p.stdout.strip().splitlines()[-1])
        if set(result) != {"correct", "attempted", "failed", "metrics"}:
            errors.append(f"{workload} trace {trace}: keys {sorted(result)}")
        if not result["correct"] or result["failed"]:
            errors.append(f"{workload} trace {trace}: not correct: {result}")
        want = {m["name"]: m["unit"] for m in spec[key]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        if want != got:
            errors.append(f"{workload} trace {trace}: metrics differ: missing {sorted(set(want) - set(got))}, "
                          f"extra {sorted(set(got) - set(want))}, "
                          f"units {[(k, want[k], got[k]) for k in set(want) & set(got) if want[k] != got[k]]}")
    return errors


def check_counts(workload: str) -> list[str]:
    p = _run(["perfbench/selftest.py", "--counts", workload], ROOT)
    if p.returncode != 0:
        return [f"{workload} counts: exit {p.returncode}: {p.stderr[-1500:]}"]
    (first, second), (first_r, second_r) = json.loads(p.stdout.strip().splitlines()[-1])
    errors = []
    for gate in WORKLOADS[workload].gates:
        if first.get(gate) != second.get(gate):
            errors.append(f"{workload} {gate}: counts differ between passes: {first.get(gate)} vs {second.get(gate)}")
        if first_r.get(gate) != second_r.get(gate):
            print(f"note: {workload} {gate}: shuffle MB differ between passes: "
                  f"{first_r.get(gate)} vs {second_r.get(gate)}")
    return errors


def counts(workload: str) -> None:
    """Child mode: two traced passes in one run; print per-gate counts."""
    from probes import SparkStatus, Tracer
    from run import Run

    args = argparse.Namespace(workload=workload, seed=SEED, seconds=0, trace=1)
    run_dir = ROOT / ".perfbench_run" / f"selftest-{os.getpid()}"
    run = Run(args, run_dir)
    try:
        run.start()
        run.warm_up()
        tracer = Tracer(run.spark, SparkStatus(run.spark))
        passes = [run.run_pass(run._order(), tracer) for _ in range(2)]
        tracer.close()
    finally:
        run.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
        _rmdir_if_empty(run_dir.parent)
    if run.raised:
        raise RuntimeError(f"{run.raised} gate executions raised")

    def table(p, keys):
        return {
            t.gate: {
                layer: [getattr(totals, k) for k in keys]
                for layer, totals in (("build", t.build), ("action", t.action), *sorted(t.layers.items()))
            }
            for t in p["traces"]
        }

    print(json.dumps([[table(p, COUNTED) for p in passes], [table(p, REPORTED) for p in passes]]))


def check_bare() -> list[str]:
    """run.py must fail, printing no result, without the repository around it."""
    bare = ROOT / ".perfbench_run" / f"selftest-bare-{os.getpid()}"
    try:
        bare.mkdir(parents=True)
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        shutil.copytree(HERE, bare / HERE.name, ignore=shutil.ignore_patterns("__pycache__"))
        p = _run(["perfbench/run.py", "--workload", next(iter(WORKLOADS)), "--seed", "1", "--seconds", "1"], bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        _rmdir_if_empty(bare.parent)
    if p.returncode == 0 or '"metrics"' in p.stdout:
        return [f"bare directory: exit {p.returncode}, stdout {p.stdout[-300:]!r}"]
    return []


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("workloads", nargs="*", help=f"default: all of {sorted(WORKLOADS)}")
    ap.add_argument("--counts", help=argparse.SUPPRESS)
    args = ap.parse_args()
    unknown = set(args.workloads) - set(WORKLOADS)
    if unknown:
        ap.error(f"unknown workloads {sorted(unknown)}")
    if args.counts:
        counts(args.counts)
        return 0
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    errors = check_bare()
    for workload in args.workloads or list(WORKLOADS):
        found = check_metrics(workload, spec) + check_counts(workload)
        print(f"{workload}: {'FAILED' if found else 'ok'}", flush=True)
        errors += found
    for e in errors:
        print(e)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
