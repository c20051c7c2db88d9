"""Print the traced runs as one table per workload.

    python3 perfbench/summary.py                     # latest traces in .perfbench/
    python3 perfbench/summary.py --run --seconds 6   # trace every workload first

Each row is one span name: calls, self time, Spark jobs started
directly under it, and the input and shuffle bytes of those jobs, all
medians per steady op.  ``op`` is the op's own self time (work outside
every named span).  The footer gives the tracing overhead: the median
traced op minus the median untraced op of the same run.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")


def _mb(n: float) -> str:
    return f"{n / 1e6:9.2f}"


def print_trace(path: str) -> None:
    with open(path) as fh:
        doc = json.load(fh)
    diag, m = doc["diagnostics"], doc["metrics"]
    print(f"\n== {diag['workload']}  seed {diag['seed']}  cpus {diag['cpus']}  "
          f"steady traced ops {m['trace.steady_ops']['value']}")
    print(f"{'layer':20s} {'calls':>5s} {'self_s':>8s} {'jobs':>5s} {'input_MB':>9s} {'shuffle_MB':>10s}")
    for name, row in sorted(doc["layers"].items(), key=lambda kv: -kv[1]["self_s"]):
        print(f"{name:20s} {row['calls']:5.0f} {row['self_s']:8.3f} {row['jobs']:5.0f} "
              f"{_mb(row['input_bytes'])} {_mb(row['shuffle_write_bytes']):>10s}")
    print(f"per op: {m['spark.jobs_per_op']['value']:.0f} jobs, "
          f"{m['spark.stages_per_op']['value']:.0f} stages, "
          f"{m['spark.tasks_per_op']['value']:.0f} tasks, "
          f"catalyst {m['catalyst.analysis_ms']['value']:.0f}/"
          f"{m['catalyst.optimization_ms']['value']:.0f}/"
          f"{m['catalyst.planning_ms']['value']:.0f} ms (analysis/optimization/planning), "
          f"{m['plan.exchanges']['value']:.0f} exchanges, "
          f"{m['plan.python_nodes']['value']:.0f} python nodes")
    print(f"tracing overhead: {m['trace.overhead_s']['value']:+.3f} s "
          f"(traced {m['trace.op_p50_s']['value']:.3f} s, "
          f"untraced {m['trace.untraced_op_p50_s']['value']:.3f} s)")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--run", action="store_true", help="make a traced run of every workload first")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=6)
    args = p.parse_args(argv)
    if args.run:
        sys.path.insert(0, HERE)
        import workloads

        for name in workloads.WORKLOADS:
            subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
                 "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "1"],
                cwd=ROOT, check=True, stdout=subprocess.DEVNULL,
            )
    latest: dict[str, str] = {}
    for path in sorted(glob.glob(os.path.join(OUT, "trace-*.json")), key=os.path.getmtime):
        with open(path) as fh:
            latest[json.load(fh)["diagnostics"]["workload"]] = path
    if not latest:
        print("no traces found; run with --run, or run.py with --trace 1", file=sys.stderr)
        return 1
    for name in sorted(latest):
        print_trace(latest[name])
    return 0


if __name__ == "__main__":
    sys.exit(main())
