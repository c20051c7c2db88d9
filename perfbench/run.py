"""Benchmark for the Darwin Core validator and its registry queries.

    python3 perfbench/run.py --workload dwca_validate --seed 1 --seconds 6 --trace 0

Run from the repository root.  One client thread drives the workload as
a closed loop on ``local_session(cpus=nproc - 1)``: set-up (timed from
process start, see ``setup``), one cold op, untimed warm-up ops, then a
steady window of ``--seconds``.  Every op's output is checked.  The last
stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics (see ``spans.py``) with ``--trace 1``.  The line
before it holds the run's environment diagnostics.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "dwc_dataframe_validator_spark"

CANARY_ROWS = 60_000_000


def _environment(work: str, trace: bool) -> None:
    """Keep every file the run writes inside ``work`` and make the
    package importable by the Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    conf = {
        # -XX:-UsePerfData: HotSpot would otherwise write /tmp/hsperfdata_*
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
        })
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def _cpus() -> int:
    # one core is left to the JVM's JIT-compiler, GC and scheduler threads
    return max(1, len(os.sched_getaffinity(0)) - 1)


def _start_session():
    from dwc_dataframe_validator_spark.sources.tables import local_session

    spark = local_session("perfbench", cpus=_cpus())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_jvm(spark) -> None:
    """Stop the session and its JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def setup(workload, seed: int, work: str):
    """Generate the inputs and start the session.  Timed from process
    start, so it includes the pyspark import and the JVM launch.
    Returns (session, set-up seconds)."""
    workload.prepare(os.path.join(work, "inputs"), seed)
    spark = _start_session()
    return spark, time.perf_counter() - T_PROCESS


def _steal_ticks() -> tuple[int, int]:
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def canary_s(spark) -> float:
    """Fixed pure-JVM probe: one codegen'd aggregate over an in-memory
    range, no Python workers and no I/O."""
    t0 = time.perf_counter()
    (
        spark.range(0, CANARY_ROWS, 1, 8)
        .selectExpr("sum(id * 3 + 1) as s", "count(1) as n")
        .write.format("noop").mode("overwrite").save()
    )
    return time.perf_counter() - t0


class Loop:
    """Closed loop: one op at a time, each checked."""

    def __init__(self, spark, workload, tracer=None):
        self.spark, self.w, self.tracer = spark, workload, tracer
        self.attempted = self.failed = 0

    def one(self, phase: str, traced: bool = True) -> float:
        self.attempted += 1
        t0 = time.perf_counter()
        ok = False
        try:
            if self.tracer is not None:
                with self.tracer.op(phase, enabled=traced):
                    out = self.w.op(self.spark)
            else:
                out = self.w.op(self.spark)
            dt = time.perf_counter() - t0
            ok = self.w.check(out)
        except Exception as exc:  # a failing op is counted, not fatal
            dt = time.perf_counter() - t0
            print(f"op failed: {type(exc).__name__}: {exc}", file=sys.stderr)
        if not ok:
            self.failed += 1
        return dt


def run(workload_name: str, seed: int, seconds: float, trace: bool) -> dict:
    import workloads

    work = os.path.join(ROOT, ".perfbench", f"{workload_name}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work, trace)
    w = workloads.WORKLOADS[workload_name]()
    spark, setup_s = setup(w, seed, work)
    tracer = None
    try:
        t_oracle = time.perf_counter()
        if hasattr(w, "oracle"):
            w.oracle()
        oracle_s = time.perf_counter() - t_oracle
        if trace:
            import spans as tracing

            tracer = tracing.Tracer(spark, w)
        loop = Loop(spark, w, tracer)
        first_op_s = loop.one("first")
        for _ in range(w.warmup_ops):
            loop.one("warmup")
        steal0 = _steal_ticks()
        canary_before = canary_s(spark)
        lat: list[float] = []
        untraced: list[float] = []
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds or len(lat) < 3:
            # traced runs alternate traced and untraced ops, so tracing
            # overhead is measured inside one process
            if trace and len(untraced) < len(lat):
                untraced.append(loop.one("untraced", traced=False))
            else:
                lat.append(loop.one("steady"))
        window = time.perf_counter() - t0
        canary_after = canary_s(spark)
        steal1 = _steal_ticks()
        n_ops = len(lat) + len(untraced)
        diagnostics = {
            "workload": workload_name, "seed": seed, "cpus": _cpus(),
            "setup_s": setup_s, "oracle_s": oracle_s,
            "first_op_s": first_op_s, "steady_ops": n_ops,
            "steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
            "canary_before_s": canary_before, "canary_after_s": canary_after,
            "op_s": lat, "untraced_op_s": untraced,
        }
        if trace:
            tracer.finish(lat, untraced)
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "first_op_s": {"value": first_op_s, "unit": "s"},
                "op_p50_s": {"value": statistics.median(lat), "unit": "s"},
                "items_per_s": {"value": w.items * n_ops / window, "unit": "1/s"},
            }
    finally:
        _stop_jvm(spark)
    if tracer is not None:
        metrics = tracer.from_event_log(os.path.join(work, "events"))
        tracer.write(os.path.join(ROOT, ".perfbench", f"trace-{workload_name}-{seed}.json"),
                     diagnostics)
    with open(os.path.join(ROOT, ".perfbench", f"run-{workload_name}-{seed}.json"), "w") as fh:
        json.dump({"diagnostics": diagnostics, "metrics": metrics}, fh, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"diagnostics": diagnostics}))
    return {
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"{PACKAGE} not found next to {HERE}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
