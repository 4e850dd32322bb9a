"""Bench-side tracing of one run: spans around the engine's public entry
points, a py4j call counter, Catalyst phase times and Spark's per-stage
counters.

Nothing here changes the engine: the tracer rebinds the listed functions
in every ``jsonschema_rs_spark`` module that imported them, for the
duration of the traced part of a run, and restores them afterwards.
Spans are kept in memory (name, layer, start, end, parent, job id) and
written out by ``run.py`` when the run ends.

A layer's self time is its spans' duration minus the part covered by
child spans.  Catalyst's optimization and planning run inside the action
that triggers them, so they are carved out of the ``exec`` self time and
reported as the ``catalyst`` layer.
"""

from __future__ import annotations

import functools
import importlib
import sys
import threading
import time
from dataclasses import dataclass, field

# layer -> (module, function) pairs
LAYER_FUNCS = {
    "compiler": [("jsonschema_rs_spark.compiler", "compile_spec"),
                 ("jsonschema_rs_spark.json_ingest", "_compile_json")],
    "plans": [("jsonschema_rs_spark.plans.validate", n) for n in (
        "violations", "verdicts", "partition_rollup", "validation_frame",
        "with_messages", "basic_output")],
    "json_ingest": [("jsonschema_rs_spark.json_ingest", n) for n in (
        "validate_json_strings", "json_valid_column")],
    "dataset": [("jsonschema_rs_spark.operators.dataset_spec",
                 "validate_dataset")] + [
        ("jsonschema_rs_spark.operators.dataset", n) for n in (
            "column_stats_verdicts", "uniqueness_violations",
            "referential_violations", "chi_square_drift", "ks_drift")],
    "checkpoint": [("jsonschema_rs_spark.checkpoint", n) for n in (
        "run_resumable_validation", "write_entry", "finished_partitions")],
}
# pyspark actions: the exec layer
EXEC_METHODS = {"DataFrame": ("collect", "count"),
                "DataFrameWriter": ("save", "parquet")}


def rebind(module_name: str, attr: str, make_wrapper):
    """Replace ``module.attr`` with ``make_wrapper(original)`` in every
    engine module bound to the same object.  Returns a function that
    undoes it."""
    orig = getattr(importlib.import_module(module_name), attr)
    wrapped = make_wrapper(orig)
    bound = [m for name, m in list(sys.modules.items())
             if m is not None and name.startswith("jsonschema_rs_spark")
             and getattr(m, attr, None) is orig]
    for m in bound:
        setattr(m, attr, wrapped)

    def undo():
        for m in bound:
            setattr(m, attr, orig)
    return undo


@dataclass
class Span:
    name: str
    layer: str
    job: int
    parent: int | None
    start: float
    end: float = 0.0
    py4j: int = 0          # py4j calls made while open, children included


@dataclass
class JobTrace:
    job: int
    name: str
    spans: list = field(default_factory=list)      # indices into spans
    queries: list = field(default_factory=list)    # listener records
    stages: dict = field(default_factory=dict)     # stage counters
    counts: dict = field(default_factory=dict)     # layer counters


class Tracer:
    def __init__(self, spark, want_plans: bool = False):
        self.spark = spark
        self.want_plans = want_plans
        self.spans: list[Span] = []
        self.jobs: list[JobTrace] = []
        self._stack: list[int] = []
        self._current: JobTrace | None = None
        self._py4j = 0
        self._main = threading.get_ident()
        self._undo: list = []

    # -- spans -------------------------------------------------------------

    def _open(self, name: str, layer: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, layer, self._current.job, parent,
                               time.perf_counter()))
        i = len(self.spans) - 1
        self.spans[i].py4j = self._py4j
        self._current.spans.append(i)
        self._stack.append(i)
        return i

    def _close(self, i: int) -> None:
        s = self.spans[i]
        s.end = time.perf_counter()
        s.py4j = self._py4j - s.py4j
        self._stack.pop()

    def _wrap(self, layer: str, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **k):
            if tracer._current is None:
                return fn(*a, **k)
            i = tracer._open(name, layer)
            try:
                out = fn(*a, **k)
            finally:
                tracer._close(i)
            tracer._count(name, out)
            return out
        return traced

    def _count(self, name: str, out) -> None:
        c = self._current.counts
        if name == "compile_spec":
            c["constraints"] = len(out.constraints)
            c["py_stages"] = len(out.py_stages)
        elif name == "write_entry":
            c["parts_run"] = c.get("parts_run", 0) + 1
        elif name == "finished_partitions" and "parts_skipped" not in c:
            c["parts_skipped"] = len(out)

    # -- install / remove --------------------------------------------------

    def install(self) -> None:
        for layer, funcs in LAYER_FUNCS.items():
            for mod, name in funcs:
                self._undo.append(rebind(
                    mod, name,
                    lambda fn, layer=layer, name=name:
                        self._wrap(layer, name, fn)))
        df = self.spark.range(1)
        for cls in (type(df), type(df.write)):
            for meth in EXEC_METHODS[cls.__name__]:
                orig = getattr(cls, meth)
                setattr(cls, meth, self._wrap("exec", meth, orig))
                self._undo.append(
                    lambda cls=cls, meth=meth, orig=orig:
                        setattr(cls, meth, orig))
        self._install_py4j_counter()
        self._install_listener()

    def remove(self) -> None:
        for undo in reversed(self._undo):
            undo()
        self._undo.clear()

    def _install_py4j_counter(self) -> None:
        client = self.spark.sparkContext._gateway._gateway_client
        send = client.send_command
        tracer = self

        def send_command(*a, **k):
            if threading.get_ident() == tracer._main:
                tracer._py4j += 1
            return send(*a, **k)
        client.send_command = send_command
        self._undo.append(lambda: delattr(client, "send_command"))

    def _install_listener(self) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        gw = self.spark.sparkContext._gateway
        ensure_callback_server_started(gw)
        listener = _QueryListener(self)
        manager = self.spark._jsparkSession.listenerManager()
        manager.register(listener)
        self._undo.append(lambda: manager.unregister(listener))

    # -- jobs --------------------------------------------------------------

    def begin_job(self, job: int, name: str) -> None:
        self._current = JobTrace(job, name)
        self.jobs.append(self._current)
        self.spark.sparkContext.setJobGroup(f"perfbench-{job}", name)
        self._open(name, "job")

    def end_job(self) -> JobTrace:
        sc = self.spark.sparkContext
        self._close(self._current.spans[0])
        # listener events arrive on the listener bus; drain it so every
        # query of this job is attributed to it
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jt = self._current
        self._current = None
        jt.stages = stage_counters(sc, f"perfbench-{jt.job}")
        sc.setJobGroup("perfbench-untraced", "")
        return jt


class _QueryListener:
    """``QueryExecutionListener`` implemented over the py4j callback
    server: records each action's Catalyst phase times and, when asked,
    node counts of its final (AQE) physical plan."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer

    def onSuccess(self, func_name, qe, duration_ns):
        jt = self.tracer._current
        if jt is None:
            return
        phases = qe.tracker().phases()
        rec = {"func": func_name, "duration_s": duration_ns / 1e9}
        for p in ("analysis", "optimization", "planning"):
            rec[p] = (phases.apply(p).durationMs() / 1e3
                      if phases.contains(p) else 0.0)
        if self.tracer.want_plans:
            rec.update(plan_nodes(qe.executedPlan().toString()))
        jt.queries.append(rec)

    def onFailure(self, func_name, qe, exception):
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def plan_nodes(plan: str) -> dict:
    """Scan / exchange / reused-exchange node counts in the final plan of
    an executed (AQE) plan string."""
    final = plan.split("== Initial Plan ==")[0]
    lines = [ln.strip(" +-:*()0123456789") for ln in final.splitlines()]
    return {
        "file_scans": sum(ln.startswith("FileScan") for ln in lines),
        "exchanges": sum(ln.startswith(("Exchange", "BroadcastExchange"))
                         for ln in lines),
        "reused_exchanges": sum(ln.startswith(("ReusedExchange",
                                               "ReusedQueryStage"))
                                for ln in lines),
    }


def stage_counters(sc, group: str) -> dict:
    """Summed per-stage counters of the Spark jobs in ``group``, read from
    the status store (kept with the UI off)."""
    st = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    stage_ids = set()
    jobs = st.getJobIdsForGroup(group)
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = dict(jobs=len(jobs), stages=0, tasks=0, run_ms=0, cpu_ns=0,
               input_bytes=0, input_rows=0, shuffle_write=0, shuffle_read=0,
               spill=0, gc_ms=0, skew=0.0)
    longest = None
    for sid in sorted(stage_ids):
        s = store.lastStageAttempt(sid)
        if s.status().toString() != "COMPLETE":
            continue
        out["stages"] += 1
        out["tasks"] += s.numTasks()
        out["run_ms"] += s.executorRunTime()
        out["cpu_ns"] += s.executorCpuTime()
        out["input_bytes"] += s.inputBytes()
        out["input_rows"] += s.inputRecords()
        out["shuffle_write"] += s.shuffleWriteBytes()
        out["shuffle_read"] += s.shuffleReadBytes()
        out["spill"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        out["gc_ms"] += s.jvmGcTime()
        if s.numTasks() > 1 and (longest is None
                                 or s.executorRunTime() > longest[1]):
            longest = (s, s.executorRunTime())
    if longest is not None:
        # task skew of the busiest stage: slowest task over the median one
        s = longest[0]
        q = sc._gateway.new_array(sc._gateway.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = store.taskSummary(s.stageId(), s.attemptId(), q)
        if summary.isDefined():
            rt = summary.get().executorRunTime()
            out["skew"] = rt.apply(1) / max(rt.apply(0), 1.0)
    return out


# --------------------------------------------------------------------------
# per-layer metrics
# --------------------------------------------------------------------------

LAYERS = ("compiler", "plans", "json_ingest", "dataset", "checkpoint",
          "catalyst", "exec")


def layer_times(tracer: Tracer, jt: JobTrace) -> dict:
    """Self time per layer for one job, plus its wall time."""
    spans = tracer.spans
    child = {i: 0.0 for i in jt.spans}
    for i in jt.spans:
        p = spans[i].parent
        if p is not None:
            child[p] += spans[i].end - spans[i].start
    self_t = {layer: 0.0 for layer in LAYERS + ("job",)}
    py4j_self = {layer: 0 for layer in LAYERS + ("job",)}
    child_calls = {i: 0 for i in jt.spans}
    for i in jt.spans:
        p = spans[i].parent
        if p is not None:
            child_calls[p] += spans[i].py4j
    ckpt_build = 0.0
    for i in jt.spans:
        s = spans[i]
        own = s.end - s.start - child[i]
        self_t[s.layer] += own
        py4j_self[s.layer] += s.py4j - child_calls[i]
        if s.layer == "plans" and _under(spans, i, "checkpoint"):
            ckpt_build += own
    catalyst = sum(q["optimization"] + q["planning"] for q in jt.queries)
    carve = min(catalyst, self_t["exec"])
    self_t["exec"] -= carve
    self_t["catalyst"] += carve
    root = spans[jt.spans[0]]
    return {"self": self_t, "py4j": py4j_self,
            "wall": root.end - root.start, "checkpoint_build": ckpt_build}


def _under(spans, i: int, layer: str) -> bool:
    p = spans[i].parent
    while p is not None:
        if spans[p].layer == layer:
            return True
        p = spans[p].parent
    return False


def per_layer_metrics(tracer: Tracer, jobs: list[JobTrace], cycles: int,
                      cores: int, extra: dict) -> dict:
    """Every per-layer metric, per loop cycle: additive quantities are
    summed over the traced ``jobs`` and divided by ``cycles``; ratios are
    taken over the sums.  ``extra`` supplies the workload-side values
    (calibration, overhead, bytes written, unfinished input bytes)."""
    tot = dict.fromkeys(
        LAYERS + ("wall", "plans_py4j", "ckpt_build", "analysis",
                  "optimization", "planning", "json_exec", "file_scans",
                  "exchanges", "reused_exchanges", "parts_run",
                  "parts_skipped", "ckpt_jobs", "ckpt_input", "resumes"), 0)
    stages = dict.fromkeys(("stages", "tasks", "run_ms", "cpu_ns",
                            "input_rows", "shuffle_write", "shuffle_read",
                            "spill", "gc_ms"), 0)
    skew = 0.0
    constraints = py_stages = 0
    for jt in jobs:
        lt = layer_times(tracer, jt)
        layers = {tracer.spans[i].layer for i in jt.spans}
        tot["wall"] += lt["wall"]
        for layer in LAYERS:
            tot[layer] += lt["self"][layer]
        tot["plans_py4j"] += lt["py4j"]["plans"]
        tot["ckpt_build"] += lt["checkpoint_build"]
        for p in ("analysis", "optimization", "planning"):
            tot[p] += sum(q[p] for q in jt.queries)
        for k in stages:
            stages[k] += jt.stages[k]
        skew = max(skew, jt.stages["skew"])
        if "json_ingest" in layers:
            tot["json_exec"] += lt["self"]["exec"]
        if "dataset" in layers:
            for k in ("file_scans", "exchanges", "reused_exchanges"):
                tot[k] += sum(q.get(k, 0) for q in jt.queries)
        c = jt.counts
        if "parts_run" in c:
            tot["resumes"] += 1
            tot["parts_run"] += c["parts_run"]
            tot["parts_skipped"] += c.get("parts_skipped", 0)
            tot["ckpt_jobs"] += jt.stages["jobs"]
            tot["ckpt_input"] += jt.stages["input_bytes"]
        constraints = max(constraints, c.get("constraints", 0))
        py_stages = max(py_stages, c.get("py_stages", 0))
    n = max(cycles, 1)
    exec_s = tot["exec"] / n
    unfinished = extra.get("unfinished_bytes", 0) * tot["resumes"]
    return {
        "compiler.compile_s": tot["compiler"] / n,
        "compiler.constraints": constraints,
        "compiler.py_stages": py_stages,
        "plans.build_s": tot["plans"] / n,
        "plans.py4j_calls": tot["plans_py4j"] / n,
        "catalyst.analysis_s": tot["analysis"] / n,
        "catalyst.optimization_s": tot["optimization"] / n,
        "catalyst.planning_s": tot["planning"] / n,
        "exec.wall_s": exec_s,
        "exec.busy_s": stages["run_ms"] / 1e3 / n,
        "exec.cpu_s": stages["cpu_ns"] / 1e9 / n,
        "exec.core_util": stages["run_ms"] / 1e3 / max(tot["exec"] * cores,
                                                       1e-9),
        "exec.stages": stages["stages"] / n,
        "exec.tasks": stages["tasks"] / n,
        "exec.task_skew": skew,
        "exec.shuffle_write_bytes": stages["shuffle_write"] / n,
        "exec.shuffle_read_bytes": stages["shuffle_read"] / n,
        "exec.spill_bytes": stages["spill"] / n,
        "exec.input_rows": stages["input_rows"] / n,
        "exec.gc_s": stages["gc_ms"] / 1e3 / n,
        "json_ingest.build_s": tot["json_ingest"] / n,
        "json_ingest.exec_s": tot["json_exec"] / n,
        "dataset.build_s": tot["dataset"] / n,
        "dataset.file_scans": tot["file_scans"] / n,
        "dataset.exchanges": tot["exchanges"] / n,
        "dataset.reused_exchanges": tot["reused_exchanges"] / n,
        "checkpoint.parts_run": tot["parts_run"] / n,
        "checkpoint.parts_skipped": tot["parts_skipped"] / n,
        "checkpoint.build_s": tot["ckpt_build"] / n,
        "checkpoint.jobs_per_part": (tot["ckpt_jobs"] / tot["parts_run"]
                                     if tot["parts_run"] else 0.0),
        "checkpoint.bytes_written": extra.get("bytes_written", 0),
        "checkpoint.rescan_ratio": (tot["ckpt_input"] / unfinished
                                    if unfinished else 0.0),
        "host.calib_s": extra["calib_s"],
        "trace.overhead_ratio": extra["overhead_ratio"],
        "trace.coverage": (sum(tot[x] for x in LAYERS)
                           / max(tot["wall"], 1e-9)),
    }


PER_LAYER_UNITS = {
    "compiler.compile_s": "s", "compiler.constraints": "count",
    "compiler.py_stages": "count", "plans.build_s": "s",
    "plans.py4j_calls": "count", "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "exec.wall_s": "s", "exec.busy_s": "s", "exec.cpu_s": "s",
    "exec.core_util": "ratio", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_skew": "ratio", "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes", "exec.spill_bytes": "bytes",
    "exec.input_rows": "rows", "exec.gc_s": "s",
    "json_ingest.build_s": "s", "json_ingest.exec_s": "s",
    "dataset.build_s": "s", "dataset.file_scans": "count",
    "dataset.exchanges": "count", "dataset.reused_exchanges": "count",
    "checkpoint.parts_run": "count", "checkpoint.parts_skipped": "count",
    "checkpoint.build_s": "s", "checkpoint.jobs_per_part": "ratio",
    "checkpoint.bytes_written": "bytes", "checkpoint.rescan_ratio": "ratio",
    "trace.coverage": "ratio",
    "host.calib_s": "s", "trace.overhead_ratio": "ratio",
}
