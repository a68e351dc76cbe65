"""Per-layer metrics from a traced run's spans (see METRICS.md for the map
from each metric to the end-to-end metric it should move).

A layer a workload does not exercise reports 0 (for example ``append.*``
on ``interactive``).
"""

from __future__ import annotations

import glob
import os
import statistics

from oracle import K_FINAL
from spans import Tracer, covered

MB = 2.0**20

#: every per-layer metric, in the order printed, with its unit
UNITS = {
    "session.start_s": "s",
    "postings.build_s": "s",
    "postings.build_jobs": "count",
    "postings.build_tasks": "count",
    "postings.build_shuffle_write_mb": "MB",
    "postings.merge_task_skew": "ratio",
    "postings.build_py_run_s": "s",
    "postings.build_py_init_s": "s",
    "postings.build_py_mb_in": "MB",
    "postings.index_mb": "MB",
    "postings.load_s": "s",
    "tokenize.tf_s": "s",
    "checkpoint.bucket_mb_skew": "ratio",
    "wand.plan_ms": "ms",
    "wand.plan_jobs": "count",
    "wand.memo_hit_plan_ms": "ms",
    "wand.memo_miss_plan_ms": "ms",
    "wand.exec_py_run_ms": "ms",
    "wand.exec_py_mb_in": "MB",
    "wand.bytes_gathered_frac": "ratio",
    "wand.blocks_decoded_frac": "ratio",
    "score.plan_ms": "ms",
    "score.plan_jobs": "count",
    "score.join_shuffle_mb": "MB",
    "score.pairs_scored_per_result": "count",
    "index.vector_scan_mb": "MB",
    "append.lsm_s": "s",
    "append.lsm_jobs": "count",
    "append.lsm_mb_written": "MB",
    "append.delete_ms": "ms",
    "append.delete_mb_written": "MB",
    "append.compact_s": "s",
    "append.compact_mb_written": "MB",
    "append.stack_depth": "count",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.driver_gap_ms": "ms",
    "spark.py_worker_init_ms": "ms",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "trace.overhead_ms_per_op": "ms",
}


def _med(xs, default=0.0) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else default


def _subtree(spans: list[dict], root: dict) -> list[dict]:
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], []))
    return out


def _jobs(spans, root) -> list[dict]:
    return [j for s in _subtree(spans, root) for j in s.get("jobs", [])]


def _stages(jobs) -> list[dict]:
    seen: dict[int, dict] = {}
    for j in jobs:
        for st in j["stages"]:
            seen[st["id"]] = st
    return list(seen.values())


def _nodes(spans, root) -> list[dict]:
    return [n for s in _subtree(spans, root) for n in s.get("nodes", [])]


def _py(nodes, key) -> float:
    return sum(n.get(key, 0.0) for n in nodes if "InPandas" in n["name"]
               or "Python" in n["name"] or "InArrow" in n["name"])


def _named(spans, name) -> list[dict]:
    return [s for s in spans if s["name"] == name]


def _driver_gap_ms(spans, op) -> float:
    """Op wall time not covered by any of its running Spark jobs."""
    iv = [{"start": max(j["submitted"], op["start"]),
           "end": min(j["completed"], op["end"])}
          for j in _jobs(spans, op) if j["submitted"] and j["completed"]]
    return (op["dur"] - covered(iv)) * 1e3


def per_layer(tr: Tracer, ctx, probes: dict) -> dict[str, float]:
    spans = tr.spans
    ops = [s for s in spans if s["parent"] is None and s["request"] is not None]
    n_ops = max(1, len(ops))
    m: dict[str, float] = {"session.start_s": ctx.session_s}

    builds = _named(spans, "postings.build")
    b_jobs = [_jobs(spans, b) for b in builds]
    m["postings.build_s"] = _med(b["dur"] for b in builds)
    m["postings.build_jobs"] = _med(len(j) for j in b_jobs)
    m["postings.build_tasks"] = _med(sum(st["tasks"] for st in _stages(j)) for j in b_jobs)
    m["postings.build_shuffle_write_mb"] = _med(
        sum(st["shuffle_write"] for st in _stages(j)) / MB for j in b_jobs)
    # the merge stage reads the (term, salt) shuffle: the build's largest reader
    skews = []
    for j in b_jobs:
        readers = [st for st in _stages(j) if st["shuffle_read"] > 0]
        if readers:
            skews.append(tr.task_skew(max(readers, key=lambda st: st["shuffle_read"])["id"]))
    m["postings.merge_task_skew"] = _med(skews)
    b_nodes = [_nodes(spans, b) for b in builds]
    m["postings.build_py_run_s"] = _med(_py(n, "py_run_ms") / 1e3 for n in b_nodes)
    m["postings.build_py_init_s"] = _med(_py(n, "py_init_ms") / 1e3 for n in b_nodes)
    m["postings.build_py_mb_in"] = _med(_py(n, "py_bytes_in") / MB for n in b_nodes)
    m["postings.index_mb"] = probes["index_bytes"] / MB
    m["postings.load_s"] = _med(s["dur"] for s in _named(spans, "postings.load"))
    m["tokenize.tf_s"] = probes["tf_s"]
    m["checkpoint.bucket_mb_skew"] = probes["bucket_skew"]

    plans = [s for s in _named(spans, "wand.plan") if s["request"] is not None]
    m["wand.plan_ms"] = _med(s["dur"] * 1e3 for s in plans)
    m["wand.plan_jobs"] = _med(len(_jobs(spans, s)) for s in plans)
    m["wand.memo_hit_plan_ms"] = _med(s["dur"] * 1e3 for s in plans if s.get("memo_hit"))
    m["wand.memo_miss_plan_ms"] = _med(s["dur"] * 1e3 for s in plans if not s.get("memo_hit"))
    exec_spans = [s for s in spans if s["name"] in ("pipeline.collect", "serve.collect")
                  and s["request"] is not None]
    e_nodes = [s.get("nodes", []) for s in exec_spans]
    m["wand.exec_py_run_ms"] = _med(_py(n, "py_run_ms") for n in e_nodes)
    m["wand.exec_py_mb_in"] = _med(_py(n, "py_bytes_in") / MB for n in e_nodes)
    m["wand.bytes_gathered_frac"] = probes["bytes_gathered_frac"]
    m["wand.blocks_decoded_frac"] = probes["blocks_decoded_frac"]

    splans = [s for s in _named(spans, "score.plan") if s["request"] is not None]
    m["score.plan_ms"] = _med(s["dur"] * 1e3 for s in splans)
    m["score.plan_jobs"] = _med(len(_jobs(spans, s)) for s in splans)
    joins, scans, pairs = [], [], []
    for s, nodes in zip(exec_spans, e_nodes):
        if s["name"] != "pipeline.collect":
            continue
        # vector-table scans read the `vector` column; the gather join is
        # the largest join keyed on id alone
        scans.append(sum(n.get("scan_bytes", 0.0) for n in nodes
                         if n["name"].startswith("Scan") and "vector#" in n["desc"]))
        moved = sum(n.get("shuffle_bytes", 0.0) for n in nodes if n["name"] == "Exchange")
        moved += sum(n.get("data_size", 0.0) for n in nodes
                     if n["name"] == "BroadcastExchange")
        joins.append(moved / MB)
        gj = [n.get("rows", 0.0) for n in nodes
              if "Join" in n["name"] and "[id#" in n["desc"] and "q_id" not in n["desc"]]
        pairs.append(max(gj, default=0.0) / K_FINAL)
    m["score.join_shuffle_mb"] = _med(joins)
    m["score.pairs_scored_per_result"] = _med(pairs)
    m["index.vector_scan_mb"] = _med(x / MB for x in scans)

    for key, name, scale in (("lsm", "append.lsm", 1.0), ("delete", "append.delete", 1e3),
                             ("compact", "append.compact", 1.0)):
        ss = _named(spans, name)
        unit = "_ms" if scale == 1e3 else "_s"
        m[f"append.{key}{unit}"] = _med(s["dur"] * scale for s in ss)
        m[f"append.{key}_mb_written"] = _med(s.get("written", 0) / MB for s in ss)
    m["append.lsm_jobs"] = _med(len(_jobs(spans, s)) for s in _named(spans, "append.lsm"))
    m["append.stack_depth"] = float(max((s.get("stack_depth", 0) for s in ops), default=0))

    all_jobs = [_jobs(spans, op) for op in ops]
    stages = [_stages(j) for j in all_jobs]
    m["spark.jobs_per_op"] = sum(len(j) for j in all_jobs) / n_ops
    m["spark.stages_per_op"] = sum(len(s) for s in stages) / n_ops
    m["spark.tasks_per_op"] = sum(st["tasks"] for s in stages for st in s) / n_ops
    m["spark.driver_gap_ms"] = sum(_driver_gap_ms(spans, op) for op in ops) / n_ops
    m["spark.py_worker_init_ms"] = sum(
        _py(_nodes(spans, op), "py_init_ms") + _py(_nodes(spans, op), "py_start_ms")
        for op in ops) / n_ops
    flat = [st for s in stages for st in s]
    m["spark.executor_run_s"] = sum(st["run_ms"] for st in flat) / 1e3 / n_ops
    m["spark.executor_cpu_s"] = sum(st["cpu_ms"] for st in flat) / 1e3 / n_ops
    m["spark.gc_s"] = sum(st["gc_ms"] for st in flat) / 1e3 / n_ops
    m["spark.shuffle_read_mb"] = sum(st["shuffle_read"] for st in flat) / MB / n_ops
    m["spark.shuffle_write_mb"] = sum(st["shuffle_write"] for st in flat) / MB / n_ops
    m["trace.overhead_ms_per_op"] = probes["overhead_s"] * 1e3 / n_ops
    return m


def bucket_skew(index_path: str) -> float:
    """max / median bucket bytes of a fresh build (checkpoint manifests)."""
    from sparkforward.checkpoint import partition_metrics

    buckets = [int(d.rsplit("=", 1)[1])
               for d in glob.glob(os.path.join(index_path, "postings", "bucket=*"))]
    sizes = [partition_metrics(index_path, b)["bytes"] for b in buckets]
    med = _med(sizes)
    return max(sizes) / med if med else 0.0
