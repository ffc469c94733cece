"""Per-layer tracing from outside the engine.

Three probes, all read from the benchmark's side of the API:

- :class:`Tracer` wraps the public functions of the engine's modules (before
  ``__spark_entry__`` is imported) and records one span per call: name,
  start, end, parent, and the trace id of the operation it ran in.  Each
  span runs under its own Spark job group, so jobs launched while a query
  is being *built* (gauge scans, quantizer training, checkpoints) are
  attributed to the module that launched them.
- :func:`exec_stats` reads Spark's status store for one job group: jobs,
  stages, tasks, task and stage times, bytes moved, spill and peak memory.
- :func:`storage_held` reads the block manager's RDD storage after an
  operation.
"""

from __future__ import annotations

import functools
import inspect
import re
import sys
import time
from collections import defaultdict

# Layer name -> engine module.  Names are the module paths below the package.
MODULES = [
    "functions.normalize",
    "functions.klines",
    "operators.aggregates",
    "operators.windows",
    "operators.grid",
    "operators.skew",
    "operators.joins",
    "operators.relational",
    "operators.subqueries",
    "operators.text",
    "operators.similarity",
    "operators.multimodal",
    "operators.dedup",
    "plans.pipeline",
    "plans.gold",
    "tables",
]
PACKAGE = "bitcoin_datapipeline_spark"

EXEC_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "single_task_stages",
    "stage_wall_s",
    "task_run_s",
    "task_cpu_s",
    "gc_s",
    "sched_s",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "peak_exec_mem_bytes",
)


def _active_sc():
    from pyspark import SparkContext

    return SparkContext._active_spark_context


class Tracer:
    """Span recorder.  Installed once per import of the engine; recording is
    switched on per operation with :meth:`begin` / :meth:`end`, so passes
    with tracing off pay one attribute check per wrapped call."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._next = 0
        self.op_id = ""
        self.op_group = ""

    # -- installation ------------------------------------------------------
    def install(self) -> int:
        """Wrap every public function of :data:`MODULES` and rebind every
        reference the package's modules already hold to them.  Returns the
        number of functions wrapped."""
        import importlib

        originals: dict[int, object] = {}
        for short in MODULES:
            mod = importlib.import_module(f"{PACKAGE}.{short}")
            for name, fn in list(vars(mod).items()):
                if name.startswith("_") or not inspect.isfunction(fn):
                    continue
                if fn.__module__ != mod.__name__ or hasattr(fn, "evalType"):
                    continue  # re-exports and UDF objects keep their identity
                w = self._wrap(short, name, fn)
                setattr(mod, name, w)
                originals[id(fn)] = w
        for modname, mod in list(sys.modules.items()):
            if mod is None or not modname.startswith(PACKAGE):
                continue
            for name, val in list(vars(mod).items()):
                w = originals.get(id(val))
                if w is not None and getattr(mod, name) is not w:
                    setattr(mod, name, w)
        return len(originals)

    def _wrap(self, module: str, fname: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            return tracer._call(module, fname, fn, args, kwargs)

        return wrapper

    # -- recording ---------------------------------------------------------
    def _group(self, span_id: int | None) -> str:
        return self.op_group if span_id is None else f"{self.op_id}/s{span_id}"

    def _call(self, module, fname, fn, args, kwargs):
        sc = _active_sc()
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        sc.setJobGroup(self._group(sid), fname)
        self._stack.append(sid)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            sc.setJobGroup(self._group(parent), "")
            self.spans.append(
                {
                    "trace": self.op_id,
                    "id": sid,
                    "parent": parent,
                    "name": f"{module}.{fname}",
                    "module": module,
                    "start": t0,
                    "end": t1,
                }
            )

    def begin(self, op_id: str) -> None:
        self.op_id = op_id
        self.op_group = f"{op_id}/build"
        self.spans = []
        self._stack = []
        self._next = 0
        _active_sc().setJobGroup(self.op_group, op_id)
        self.enabled = True

    def end(self) -> list[dict]:
        self.enabled = False
        spans, self.spans = self.spans, []
        return spans


def module_stats(spans: list[dict], sc) -> dict[str, dict]:
    """Per-module calls, self seconds (span minus child spans) and jobs
    launched in the span's own time."""
    child_s: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_s[s["parent"]] += s["end"] - s["start"]
    out: dict[str, dict] = {}
    tracker = sc.statusTracker()
    for s in spans:
        m = out.setdefault(s["module"], {"calls": 0, "self_s": 0.0, "jobs": 0})
        m["calls"] += 1
        m["self_s"] += (s["end"] - s["start"]) - child_s[s["id"]]
        m["jobs"] += len(tracker.getJobIdsForGroup(f"{s['trace']}/s{s['id']}"))
    return out


def plan_shape(jplan) -> dict[str, int]:
    """Exchange / sort / broadcast operator counts in an executed plan."""
    text = jplan.toString()
    nodes = re.findall(r"^[\s:+\-]*(?:\*\(\d+\)\s)?(\w+)", text, re.M)
    return {
        "exchanges": sum(n in ("Exchange", "ShuffleExchange") for n in nodes),
        "sorts": sum(n == "Sort" for n in nodes),
        "broadcasts": sum(n == "BroadcastExchange" for n in nodes),
    }


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() if opt.isDefined() else None


def completed_stages(sc, group: str):
    """Yield (stage id, StageData) for every completed stage of the jobs in
    one job group, each stage once.  Skipped stages (their shuffle output
    was reused) are left out."""
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    no_status = gw.jvm.java.util.ArrayList()
    no_quantiles = gw.new_array(gw.jvm.double, 0)
    seen: set[int] = set()
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        stage_ids = store.job(jid).stageIds()
        for i in range(stage_ids.size()):
            sid = stage_ids.apply(i)
            if sid in seen:
                continue
            seen.add(sid)
            sd = store.stageAttempt(sid, 0, False, no_status, False, no_quantiles)._1()
            if sd.status().toString() == "COMPLETE":
                yield sid, sd


def exec_stats(sc, group: str) -> dict[str, float]:
    """Aggregate the status store's job and stage records for one job group."""
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(EXEC_FIELDS, 0.0)
    out["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
    for sid, sd in completed_stages(sc, group):
        n = sd.numTasks()
        out["stages"] += 1
        out["tasks"] += n
        out["single_task_stages"] += n == 1
        sub, done = _opt_ms(sd.submissionTime()), _opt_ms(sd.completionTime())
        wall = (done - sub) / 1e3 if sub is not None and done is not None else 0.0
        tasks = store.taskList(sid, 0, n)
        longest = max(
            (tasks.apply(k).duration().get() for k in range(tasks.size())),
            default=0,
        ) / 1e3
        out["stage_wall_s"] += wall
        out["sched_s"] += max(0.0, wall - longest)
        out["task_run_s"] += sd.executorRunTime() / 1e3
        out["task_cpu_s"] += sd.executorCpuTime() / 1e9
        out["gc_s"] += sd.jvmGcTime() / 1e3
        out["input_bytes"] += sd.inputBytes()
        out["shuffle_read_bytes"] += sd.shuffleReadBytes()
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        out["peak_exec_mem_bytes"] = max(out["peak_exec_mem_bytes"], sd.peakExecutionMemory())
    return out


def input_records(sc, groups: list[str]) -> int:
    """Rows read by scans in the given job groups."""
    return sum(sd.inputRecords() for g in groups for _, sd in completed_stages(sc, g))


def storage_held(sc) -> tuple[int, int]:
    """(RDDs with cached or checkpointed blocks, bytes they hold)."""
    rdds, held = 0, 0
    for info in sc._jsc.sc().getRDDStorageInfo():
        if info.numCachedPartitions() > 0:
            rdds += 1
            held += info.memSize() + info.diskSize()
    return rdds, held
