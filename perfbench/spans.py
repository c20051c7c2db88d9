"""Traced run: spans around the layer functions each workload calls.

The tracer replaces module attributes that the program resolves at call
time (``operators.archive.validate_occurrence_dataframe``,
``operators.dedup.lsh_candidate_pairs`` and so on) with wrappers that
record a span: name, start, end, parent and op.  Every span runs its
Spark jobs under its own job group, so the Spark event log, parsed
after the session stops, attributes jobs, stages, tasks and bytes to
spans.  Spans stay in memory and are written once, at the end.

Layer time is self time: a span's duration minus its children's.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

PKG = "dwc_dataframe_validator_spark"
GROUP = "spark.jobGroup.id"

# (module, attribute, span name).  Each is looked up by the program at
# call time, so replacing the attribute puts a span around every call.
_DWCA = [
    ("operators.archive", "read_descriptor", "dwca.descriptor"),
    ("operators.archive", "read_archive_table", "dwca.read_table"),
    ("operators.archive", "validate_occurrence_dataframe", "validate"),
    ("operators.archive", "generate_breakdowns", "breakdown"),
    ("model", "report_to_json", "model"),
]
_STREAM = [
    ("operators.validate", "validate_occurrence_dataframe", "validate"),
    ("streaming.report_sink", "merge_df_reports", "model"),
]
_REGISTRY = [
    (f"registry_parts.part{i}", "load_table", "tables.load") for i in range(1, 7)
] + [
    ("registry_parts.part4", "minhash_lsh_check", "dedup.pairs"),
    ("operators.text", "word_ngrams", "text.ngrams"),
    ("operators.dedup", "minhash_signatures_portable", "dedup.signatures"),
    ("operators.dedup", "lsh_candidate_pairs", "dedup.candidates"),
    ("operators.dedup", "verify_candidates_jaccard", "dedup.verify"),
    ("operators.graph", "connected_components", "graph.components"),
    ("streaming.ingest", "crawl_survivors", "ingest.survivors"),
]
TARGETS = {
    "dwca_validate": _DWCA,
    "stream_validate": _STREAM,
    "corpus_crawl": _REGISTRY,
}
# spans whose returned DataFrame is counted after the run, untimed
_COUNTED = ("dedup.candidates", "dedup.verify")

# per-layer metrics: (metric, span name, "s" self seconds | "jobs" self jobs)
LAYER_SPANS = [
    ("dwca.descriptor_s", "dwca.descriptor", "s"),
    ("validate.s", "validate", "s"),
    ("validate.jobs", "validate", "jobs"),
    ("breakdown.s", "breakdown", "s"),
    ("breakdown.jobs", "breakdown", "jobs"),
    ("model.s", "model", "s"),
    ("tables.load_s", "tables.load", "s"),
    ("tables.load_jobs", "tables.load", "jobs"),
    ("text.ngrams_s", "text.ngrams", "s"),
    ("text.ngrams_jobs", "text.ngrams", "jobs"),
    ("dedup.signatures_s", "dedup.signatures", "s"),
    ("dedup.signatures_jobs", "dedup.signatures", "jobs"),
    ("dedup.candidates_s", "dedup.candidates", "s"),
    ("dedup.candidates_jobs", "dedup.candidates", "jobs"),
    ("dedup.verify_s", "dedup.verify", "s"),
    ("dedup.verify_jobs", "dedup.verify", "jobs"),
    ("dedup.pairs_s", "dedup.pairs", "s"),
    ("dedup.pairs_jobs", "dedup.pairs", "jobs"),
    ("graph.components_s", "graph.components", "s"),
    ("graph.components_jobs", "graph.components", "jobs"),
    ("ingest.survivors_s", "ingest.survivors", "s"),
    ("ingest.survivors_jobs", "ingest.survivors", "jobs"),
]

_PYTHON_NODES = ("InPandas", "EvalPython", "InArrow")
# task accumulables of the Python exec nodes, by name
_PYTHON_BYTES = {
    "data sent to Python workers": "python_bytes_in",
    "data returned from Python workers": "python_bytes_out",
}

# every per-layer metric a traced run reports, with its unit
PER_LAYER = {
    "spark.jobs_per_op": "count", "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.build_s": "s", "spark.build_jobs": "count",
    "spark.exec_s": "s", "spark.exec_jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "plan.exchanges": "count", "plan.python_nodes": "count",
    "exec.input_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "dwca.csv_scans_per_op": "count",
    **{metric: ("s" if kind == "s" else "count") for metric, _, kind in LAYER_SPANS},
    "stream.batches": "count", "stream.batch_p50_ms": "ms",
    "stream.add_batch_ms": "ms", "stream.overhead_ms": "ms",
    "dedup.candidate_pairs": "count", "dedup.verified_pairs": "count",
    "dedup.verify_yield": "ratio",
    "python.bytes_to_worker": "bytes", "python.bytes_from_worker": "bytes",
    "jvm.gc_s": "s", "jvm.jit_s": "s", "cache.storage_bytes": "bytes",
    "trace.op_p50_s": "s", "trace.untraced_op_p50_s": "s",
    "trace.overhead_s": "s", "trace.steady_ops": "count",
}


class Tracer:
    def __init__(self, spark, workload):
        self.spark, self.sc, self.w = spark, spark.sparkContext, workload
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.op_span: dict | None = None
        self.local = threading.local()
        self.lock = threading.Lock()
        self.counted: dict[str, object] = {}
        self.patched: list[tuple] = []
        self.plans: list[dict] = []
        for mod, attr, name in TARGETS[workload.name]:
            self._patch(mod, attr, name)
        workload.span = self.span
        self._wrap_actions()

    # -- spans ---------------------------------------------------------
    def _patch(self, mod_name: str, attr: str, name: str) -> None:
        import importlib

        mod = importlib.import_module(f"{PKG}.{mod_name}")
        if not hasattr(mod, attr):
            return
        orig = getattr(mod, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
            if rec is not None and name in _COUNTED:
                self.counted[name] = out
            return out

        setattr(mod, attr, wrapper)
        self.patched.append((mod, attr, orig))

    def _stack(self) -> list:
        if not hasattr(self.local, "stack"):
            self.local.stack = []
        return self.local.stack

    @contextmanager
    def span(self, name: str):
        op = self.op_span
        if op is None or not op["traced"]:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else op
        with self.lock:
            rec = {"id": len(self.spans), "name": name, "parent": parent["id"],
                   "op": op["op"], "t0": time.time()}
            self.spans.append(rec)
        prev = self.sc.getLocalProperty(GROUP)
        self.sc.setLocalProperty(GROUP, f"perfbench-{rec['id']}")
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            self.sc.setLocalProperty(GROUP, prev)
            rec["t1"] = time.time()

    @contextmanager
    def op(self, phase: str, enabled: bool = True):
        jvm = self._jvm_counters() if enabled else None
        rec = {"id": len(self.spans) if enabled else None, "name": "op", "parent": None,
               "op": len(self.ops), "phase": phase, "traced": enabled, "t0": time.time()}
        if enabled:
            self.spans.append(rec)
        self.ops.append(rec)
        self.op_span = rec
        prev = self.sc.getLocalProperty(GROUP)
        if enabled:
            self.sc.setLocalProperty(GROUP, f"perfbench-{rec['id']}")
        try:
            yield rec
        finally:
            self.sc.setLocalProperty(GROUP, prev)
            rec["t1"] = time.time()
            self.op_span = None
            if enabled:
                after = self._jvm_counters()
                rec["jvm"] = {k: after[k] - jvm[k] for k in jvm}
                rec["storage_bytes"] = self._storage_bytes()
                progress = getattr(self.w, "last_query", None)
                if progress is not None:
                    rec["stream"] = [json.loads(p.json) for p in progress.recentProgress]

    # -- Catalyst phases and plan shape of every collected frame -------
    def _wrap_actions(self) -> None:
        cls = type(self.spark.range(1))
        tracer = self
        self.action_cls = cls
        self.actions = {}
        for meth in ("collect", "localCheckpoint"):
            orig = getattr(cls, meth)
            self.actions[meth] = orig

            def wrapper(df, *args, _orig=orig, **kwargs):
                out = _orig(df, *args, **kwargs)
                if tracer.op_span is not None and tracer.op_span["traced"]:
                    tracer._record_plan(df)
                return out

            setattr(cls, meth, functools.wraps(orig)(wrapper))
        self.actions["count"] = cls.count

        def count(df):
            # Dataset.count() runs the plan of groupBy().count(), which
            # the JVM builds internally; collecting that same aggregate
            # runs the same plan and records it through collect above
            if tracer.op_span is None or not tracer.op_span["traced"]:
                return self.actions["count"](df)
            return int(df.groupBy().count().collect()[0][0])

        cls.count = functools.wraps(self.actions["count"])(count)

    def _record_plan(self, df) -> None:
        qe = df._jdf.queryExecution()
        phases = qe.tracker().phases()
        ms = {}
        for phase in ("analysis", "optimization", "planning"):
            p = phases.get(phase)
            ms[phase] = p.get().durationMs() if p.isDefined() else 0
        # an adaptive plan prints its final plan, then its initial plan;
        # only the final plan is the one that ran
        text = qe.executedPlan().toString().split("== Initial Plan ==")[0]
        lines = [ln.strip(" +-:*") for ln in text.splitlines()]
        nodes = [ln.split(" ")[0].split("(")[0] for ln in lines if ln]
        stack = self._stack()
        span = stack[-1] if stack else self.op_span
        with self.lock:
            self.plans.append({
                "op": self.op_span["op"], "span": span["id"], **ms,
                "exchanges": sum(n in ("Exchange", "BroadcastExchange") for n in nodes),
                "python_nodes": sum(any(p in n for p in _PYTHON_NODES) for n in nodes),
                "csv_scans": sum("Scan csv" in ln for ln in lines),
            })

    # -- JVM counters ---------------------------------------------------
    def _jvm_counters(self) -> dict:
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        gc = sum(max(0, b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans())
        return {"gc_ms": gc, "jit_ms": mf.getCompilationMXBean().getTotalCompilationTime()}

    def _storage_bytes(self) -> int:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos)

    # -- results --------------------------------------------------------
    def steady_ops(self) -> list[dict]:
        return [o for o in self.ops if o["phase"] == "steady"]

    def finish(self, traced: list[float], untraced: list[float]) -> None:
        """Restore the program and make the untimed counts while the
        session is still up."""
        for mod, attr, orig in self.patched:
            setattr(mod, attr, orig)
        for meth, orig in self.actions.items():
            setattr(self.action_cls, meth, orig)
        self.w.span = None
        self.counts = {}
        for name, frame in self.counted.items():
            self.counts[name] = frame.count()
        self.traced_op_s, self.untraced_op_s = traced, untraced

    def from_event_log(self, events_dir: str) -> dict:
        log = EventLog(events_dir)
        steady = self.steady_ops()
        by_op = {o["op"]: o for o in steady}
        span_of = {s["id"]: s for s in self.spans}

        def op_of_group(group):
            if group and group.startswith("perfbench-"):
                s = span_of.get(int(group.split("-", 1)[1]))
                return (s["op"], s["id"]) if s else (None, None)
            return None, None

        def op_at(t_ms):
            for o in self.ops:
                if o["traced"] and o["t0"] * 1000 <= t_ms <= o.get("t1", 0) * 1000:
                    return o["op"], o["id"]
            return None, None

        def owner(group, t_ms):
            op, span = op_of_group(group)
            return (op, span) if op is not None else op_at(t_ms)

        per_op = defaultdict(lambda: defaultdict(float))
        per_span = defaultdict(lambda: defaultdict(float))
        for job in log.jobs.values():
            op, span = owner(job["group"], job["t"])
            per_op[op]["jobs"] += 1
            per_span[span]["jobs"] += 1
        for st in log.stages.values():
            op, span = owner(st["group"], st["t"])
            per_op[op]["stages"] += 1
            per_op[op]["tasks"] += st["tasks"]
            for k in ("input_bytes", "shuffle_write_bytes", "spill_bytes",
                      "python_bytes_in", "python_bytes_out"):
                per_op[op][k] += st[k]
                per_span[span][k] += st[k]

        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)

        def dur(s):
            return s.get("t1", s["t0"]) - s["t0"]

        def self_s(s):
            return max(0.0, dur(s) - sum(dur(c) for c in children[s["id"]]))

        def subtree(s):
            yield s
            for c in children[s["id"]]:
                yield from subtree(c)

        def med(values):
            return statistics.median(values) if values else 0.0

        ops = [by_op[k] for k in sorted(by_op)]
        op_spans = {o["op"]: [s for s in self.spans if s["op"] == o["op"] and s["name"] != "op"]
                    for o in ops}
        m: dict[str, float] = {}
        m["spark.jobs_per_op"] = med([per_op[o["op"]]["jobs"] for o in ops])
        m["spark.stages_per_op"] = med([per_op[o["op"]]["stages"] for o in ops])
        m["spark.tasks_per_op"] = med([per_op[o["op"]]["tasks"] for o in ops])
        for kind in ("build", "exec"):
            secs, jobs = [], []
            for o in ops:
                top = [s for s in op_spans[o["op"]] if s["name"] == f"spark.{kind}"]
                secs.append(sum(dur(s) for s in top))
                jobs.append(sum(per_span[d["id"]]["jobs"] for s in top for d in subtree(s)))
            m[f"spark.{kind}_s"] = med(secs)
            m[f"spark.{kind}_jobs"] = med(jobs)
        plans = defaultdict(list)
        for p in self.plans:
            plans[p["op"]].append(p)
        for key, metric in (("analysis", "catalyst.analysis_ms"),
                            ("optimization", "catalyst.optimization_ms"),
                            ("planning", "catalyst.planning_ms"),
                            ("exchanges", "plan.exchanges"),
                            ("python_nodes", "plan.python_nodes")):
            m[metric] = med([sum(p[key] for p in plans[o["op"]]) for o in ops])
        m["exec.input_bytes"] = med([per_op[o["op"]]["input_bytes"] for o in ops])
        m["exec.shuffle_write_bytes"] = med([per_op[o["op"]]["shuffle_write_bytes"] for o in ops])
        m["exec.spill_bytes"] = med([per_op[o["op"]]["spill_bytes"] for o in ops])
        m["dwca.csv_scans_per_op"] = med([sum(p["csv_scans"] for p in plans[o["op"]]) for o in ops])
        for metric, name, kind in LAYER_SPANS:
            vals = []
            for o in ops:
                mine = [s for s in op_spans[o["op"]] if s["name"] == name]
                vals.append(sum(self_s(s) for s in mine) if kind == "s"
                            else sum(per_span[s["id"]]["jobs"] for s in mine))
            m[metric] = med(vals)
        m["python.bytes_to_worker"] = med([per_op[o["op"]]["python_bytes_in"] for o in ops])
        m["python.bytes_from_worker"] = med([per_op[o["op"]]["python_bytes_out"] for o in ops])
        m["jvm.gc_s"] = med([o["jvm"]["gc_ms"] / 1000 for o in ops])
        m["jvm.jit_s"] = med([o["jvm"]["jit_ms"] / 1000 for o in ops])
        m["cache.storage_bytes"] = med([o["storage_bytes"] for o in ops])
        batches, trig, add, over = [], [], [], []
        for o in ops:
            prog = [p for p in o.get("stream", []) if p.get("numInputRows", 0) > 0]
            batches.append(len(prog))
            for p in prog:
                d = p["durationMs"]
                trig.append(d.get("triggerExecution", 0))
                add.append(d.get("addBatch", 0))
                over.append(d.get("triggerExecution", 0) - d.get("addBatch", 0))
        m["stream.batches"] = med(batches)
        m["stream.batch_p50_ms"] = med(trig)
        m["stream.add_batch_ms"] = med(add)
        m["stream.overhead_ms"] = med(over)
        cand = self.counts.get("dedup.candidates", 0)
        ver = self.counts.get("dedup.verify", 0)
        m["dedup.candidate_pairs"] = cand
        m["dedup.verified_pairs"] = ver
        m["dedup.verify_yield"] = ver / cand if cand else 0.0
        m["trace.op_p50_s"] = med(self.traced_op_s)
        m["trace.untraced_op_p50_s"] = med(self.untraced_op_s)
        m["trace.overhead_s"] = m["trace.op_p50_s"] - m["trace.untraced_op_p50_s"]
        m["trace.steady_ops"] = len(ops)
        # the layer table: per span name, medians over steady ops
        self.layers = {}
        for name in sorted({s["name"] for o in ops for s in op_spans[o["op"]]} | {"op"}):
            rows = defaultdict(list)
            for o in ops:
                mine = [o] if name == "op" else [s for s in op_spans[o["op"]]
                                                  if s["name"] == name]
                rows["calls"].append(len(mine))
                rows["self_s"].append(sum(self_s(s) for s in mine))
                for k in ("jobs", "input_bytes", "shuffle_write_bytes"):
                    rows[k].append(sum(per_span[s["id"]][k] for s in mine))
            self.layers[name] = {k: med(v) for k, v in rows.items()}
        self.metrics = {k: {"value": m[k], "unit": unit} for k, unit in PER_LAYER.items()}
        return self.metrics

    def write(self, path: str, diagnostics: dict) -> None:
        doc = {
            "diagnostics": diagnostics,
            "metrics": self.metrics,
            "layers": self.layers,
            "spans": self.spans,
            "plans": self.plans,
        }
        with open(path, "w") as fh:
            json.dump(doc, fh)


class EventLog:
    """Jobs and stages of the last application in a Spark event-log
    directory, each with its job group."""

    def __init__(self, events_dir: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[tuple, dict] = {}
        apps = sorted(glob.glob(os.path.join(events_dir, "eventlog_v2_*")))
        if not apps:
            return
        for path in sorted(glob.glob(os.path.join(apps[-1], "events_*"))):
            with open(path) as fh:
                for line in fh:
                    self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            self.jobs[ev["Job ID"]] = {
                "group": (ev.get("Properties") or {}).get(GROUP),
                "t": ev.get("Submission Time", 0),
            }
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            self.stages[key] = {
                "group": (ev.get("Properties") or {}).get(GROUP),
                "t": info.get("Submission Time", 0),
                "tasks": info.get("Number of Tasks", 0),
                "input_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
                "python_bytes_in": 0, "python_bytes_out": 0,
            }
        elif kind == "SparkListenerTaskEnd":
            st = self.stages.get((ev["Stage ID"], ev.get("Stage Attempt ID", 0)))
            if st is None:
                return
            tm = ev.get("Task Metrics") or {}
            st["input_bytes"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
            st["shuffle_write_bytes"] += tm.get(
                "Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            st["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                key = _PYTHON_BYTES.get(acc.get("Name"))
                if key:
                    st[key] += int(acc.get("Update", 0))
