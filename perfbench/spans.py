"""Spans around the benchmark's calls into sparkforward, plus Spark counters.

A span records name, start, end, parent and request id. With tracing on,
each span also opens its own Spark job group, so every job, stage and task
the call starts is attributed to the innermost open span. Spans stay in
memory; :meth:`Tracer.collect` reads the Spark status stores once, after
the measured phase, and :func:`write` dumps everything as JSON.

Stage counters come from ``sc._jsc.sc().statusStore()`` and per-plan-node
SQL metrics (Python-worker time and bytes, scan and exchange sizes) from
``spark._jsparkSession.sharedState().statusStore()``; both are kept with
``spark.ui.enabled=false``.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

#: SQL metric names read from plan nodes (others are skipped unread)
PY_METRICS = {
    "time to run Python workers": "py_run_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to start Python workers": "py_start_ms",
    "data sent to Python workers": "py_bytes_in",
}
NODE_METRICS = {
    **PY_METRICS,
    "size of files read": "scan_bytes",
    "shuffle bytes written": "shuffle_bytes",
    "data size": "data_size",
    "number of output rows": "rows",
}
_UNITS = {
    "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_NUM = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric ("1.1 s (162 ms, ...)", "2.5 KiB",
    "1,648") in ms, bytes or plain count."""
    line = text.strip().splitlines()[-1]
    m = _NUM.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        #: wall seconds spent in span bookkeeping (the tracing overhead)
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, request=None, graph: bool = False):
        """Time a call. ``graph=True`` marks spans whose SQL plan graphs
        :meth:`collect` reads (costly over py4j, so only where needed)."""
        t_in = time.time()
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans), "name": name,
            "parent": parent["id"] if parent else None,
            "request": request if request is not None
            else (parent["request"] if parent else None),
            "graph": graph,
        }
        if self.enabled:
            rec["group"] = f"perfbench-{rec['id']}"
            self.sc.setJobGroup(rec["group"], name)
            self.spans.append(rec)
        self._stack.append(rec)
        rec["start"] = time.time()
        self.overhead_s += rec["start"] - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["dur"] = rec["end"] - rec["start"]
            self._stack.pop()
            if self.enabled:
                if parent is not None:
                    self.sc.setJobGroup(parent["group"], parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += time.time() - rec["end"]

    # ------------------------------------------------------------------ #
    def collect(self) -> None:
        """Attach jobs, stages and plan-node metrics to every span."""
        if not self.enabled:
            return
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        job_span: dict[int, dict] = {}
        for rec in self.spans:
            rec["jobs"] = []
            for j in sorted(tracker.getJobIdsForGroup(rec["group"])):
                job_span[j] = rec
                rec["jobs"].append(_job(store, j))
        sql = self.spark._jsparkSession.sharedState().statusStore()
        n = sql.executionsCount()
        execs = sql.executionsList(0, n)
        for i in range(execs.size()):
            e = execs.apply(i)
            it = e.jobs().keys().iterator()
            owners = set()
            while it.hasNext():
                j = int(it.next())
                if j in job_span:
                    owners.add(job_span[j]["id"])
            if len(owners) != 1:
                continue
            rec = self.spans[owners.pop()]
            if rec["graph"]:
                rec.setdefault("nodes", []).extend(_nodes(sql, e.executionId()))

    def task_skew(self, stage_id: int) -> float:
        """max / median executor run time over a stage's tasks."""
        store = self.sc._jsc.sc().statusStore()
        q = self.sc._gateway.new_array(self.sc._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        att = store.lastStageAttempt(stage_id).attemptId()
        summ = store.taskSummary(stage_id, att, q)
        if not summ.isDefined():
            return 0.0
        run = summ.get().executorRunTime()
        med, mx = float(run.apply(0)), float(run.apply(1))
        return mx / med if med > 0 else 0.0


def _opt_s(opt) -> float | None:
    return float(opt.get().getTime()) / 1e3 if opt.isDefined() else None


def _job(store, j: int) -> dict:
    jd = store.job(j)
    out = {"id": j, "submitted": _opt_s(jd.submissionTime()),
           "completed": _opt_s(jd.completionTime()), "stages": []}
    ids = jd.stageIds()
    for k in range(ids.size()):
        s = ids.apply(k)
        try:
            sd = store.lastStageAttempt(s)
        except Py4JJavaError:  # a skipped stage has no attempt
            continue
        if sd.status().toString() != "COMPLETE":
            continue
        out["stages"].append({
            "id": int(s), "tasks": int(sd.numTasks()),
            "run_ms": float(sd.executorRunTime()),
            "cpu_ms": float(sd.executorCpuTime()) / 1e6,
            "gc_ms": float(sd.jvmGcTime()),
            "shuffle_read": float(sd.shuffleReadBytes()),
            "shuffle_write": float(sd.shuffleWriteBytes()),
            "input": float(sd.inputBytes()),
            "output": float(sd.outputBytes()),
        })
    return out


def _nodes(sql, eid: int) -> list[dict]:
    values = sql.executionMetrics(eid)
    nodes = sql.planGraph(eid).allNodes()
    out = []
    for i in range(nodes.size()):
        nd = nodes.apply(i)
        name = nd.name()
        ms = nd.metrics()
        rec = {"execution": int(eid), "name": name, "desc": nd.desc()[:200]}
        for k in range(ms.size()):
            pm = ms.apply(k)
            key = NODE_METRICS.get(pm.name())
            if key is None:
                continue
            v = values.get(pm.accumulatorId())
            if v.isDefined():
                rec[key] = parse_metric(v.get())
        if len(rec) > 3:
            out.append(rec)
    return out


def write(path: str, tracer: Tracer, extra: dict) -> None:
    with open(path, "w") as fh:
        json.dump({"spans": tracer.spans, **extra}, fh, default=str)


def self_time(spans: list[dict]) -> dict[int, float]:
    """span id -> duration minus the time its direct children cover."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    return {s["id"]: s["dur"] - covered(kids.get(s["id"], [])) for s in spans}


def covered(intervals) -> float:
    total, end = 0.0, float("-inf")
    for s in sorted(intervals, key=lambda x: x["start"]):
        lo, hi = max(s["start"], end), s["end"]
        if hi > lo:
            total += hi - lo
            end = hi
    return total
