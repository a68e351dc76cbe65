"""Benchmark entry point.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 20 --trace 0

Run from the root of a checkout that holds ``sparkforward/``. Builds its
inputs from ``--seed`` under ``.perfbench/`` in the checkout, runs one
workload (workloads.py) for about ``--seconds`` seconds on a local Spark
session sized to this machine, checks every served result against an
independent DuckDB reference (oracle.py), and prints as its last stdout
line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` -- the end-to-end metrics with ``--trace 0``, the per-layer
metrics (layers.py) with ``--trace 1``. A traced run also writes its spans
to ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

#: per-workload input sizes (recorded in BENCHMARK.json and METRICS.md)
SIZES = {
    "interactive": {"docs": 5_000, "requests": 400, "warmup": 2},
    "ingest": {"docs": 5_000, "append": 1_000, "delete": 200,
               "seconds_per_round": 15},
}
#: driver heap (the library's SPARK_DRIVER_MEM; its default is 48g): the
#: inputs are a few MB, and a small heap keeps the resident set steady and
#: leaves memory to other tenants of the machine
DRIVER_MEM = "1g"
#: metric name -> unit, in the order printed
END_TO_END = {
    "setup_s": "s",
    "query_mean_ms": "ms",
    "write_docs_per_s": "docs/s",
    "index_bytes_per_doc": "B",
    "write_bytes_per_doc": "B",
    "peak_rss_mb": "MB",
}


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sizes", default=None,
                    help="JSON object overriding the workload sizes (smoke test)")
    return ap.parse_args(argv)


def _hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _environment(work: str) -> dict:
    """Point Spark, its Python workers and every temp dir at the checkout."""
    cores = max(1, min(4, len(os.sched_getaffinity(0))))
    mem = DRIVER_MEM
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "PYTHONPATH": ROOT + os.pathsep + os.environ.get("PYTHONPATH", ""),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_DRIVER_MEM": mem,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        # every JVM, the spark-submit launcher included: temp files in the
        # checkout, no hsperfdata file under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    sys.path.insert(0, ROOT)
    return {
        "cores": cores, "driver_mem": mem,
        "conf": {
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # the heap is committed and touched at start, so the resident
            # set does not depend on when G1 chose to grow it
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "20000",
            "spark.sql.ui.retainedExecutions": "20000",
        },
    }


def _check_workers(spark) -> str:
    """One-task job: executors must import sparkforward from this checkout."""
    import sparkforward

    want = os.path.join(ROOT, "sparkforward")
    got = spark.sparkContext.parallelize([0], 1).map(
        lambda _: __import__("sparkforward").__file__).collect()[0]
    for path in (sparkforward.__file__, got):
        if os.path.dirname(os.path.realpath(path)) != os.path.realpath(want):
            raise RuntimeError(f"sparkforward imported from {path}, not {want}")
    return got


def _probes(spark, tr, res) -> dict:
    """Traced-run extras measured after the timed phase."""
    from sparkforward.postings import PostingIndex
    from sparkforward.tokenize import term_frequencies
    from sparkforward.wand import wand_topk

    t0 = time.perf_counter()
    term_frequencies(spark.read.parquet(res.extra["docs_path"])).write.format(
        "noop").mode("overwrite").save()
    tf_s = time.perf_counter() - t0
    # io_stats/block_stats bypass the serve-plan memo, so they are read on
    # a separate serve of up to 8 of the run's queries
    index = res.extra.get("index") or PostingIndex.load(spark, res.extra["index_path"])
    qs = list(res.extra["queries"].items())[:8]
    io: dict = {}
    acc = (spark.sparkContext.accumulator(0), spark.sparkContext.accumulator(0))
    wand_topk(index, spark.createDataFrame(qs, "q_id string, query string"),
              k=100, io_stats=io, block_stats=acc).collect()
    return {
        "tf_s": tf_s,
        "bucket_skew": res.extra["bucket_skew"],
        "index_bytes": res.index_bytes,
        "bytes_gathered_frac": float(io.get("bytes_fraction", 0.0)),
        "blocks_decoded_frac": acc[0].value / acc[1].value if acc[1].value else 0.0,
        "overhead_s": tr.overhead_s,
    }


def tail(lat: list[float]) -> tuple[float, float] | None:
    """(percentile, value): the highest percentile with at least ten
    samples beyond it, or None when there are too few samples."""
    n = len(lat)
    if n < 11:
        return None
    k = n - 10  # samples at or below the percentile
    return 100.0 * k / n, sorted(lat)[k - 1]


def main(argv=None) -> int:
    a = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "sparkforward", "__init__.py")):
        print(f"perfbench: no sparkforward package under {ROOT}", file=sys.stderr)
        return 2
    sizes = dict(SIZES[a.workload])
    if a.sizes:
        sizes.update(json.loads(a.sizes))
    work = os.path.join(STATE, f"work-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = _environment(work)
    spark = None
    try:
        t0 = time.perf_counter()
        from sparkforward.session import get_spark

        spark = get_spark(app_name="perfbench", cores=env["cores"],
                          shuffle_partitions=env["cores"], extra_conf=env["conf"])
        spark.sparkContext.setLogLevel("ERROR")
        worker_pkg = _check_workers(spark)
        session_s = time.perf_counter() - t0

        import spans
        import workloads

        tr = spans.Tracer(spark, enabled=bool(a.trace))
        ctx = workloads.Ctx(spark, tr, a.seed, a.seconds, work, sizes, session_s)
        res = workloads.WORKLOADS[a.workload](ctx)
        info = {"workload": a.workload, "seed": a.seed, "cores": env["cores"],
                "spark_driver_mem": env["driver_mem"], "worker_sparkforward": worker_pkg,
                "query_p50_ms": statistics.median(res.query_ms),
                "query_ms": [round(x, 1) for x in res.query_ms],
                "failed_q_ids": res.failed_ids}
        t = tail(res.query_ms)
        if t:
            info["query_tail_ms"] = {"percentile": t[0], "value": t[1],
                                     "n": len(res.query_ms)}
        info.update({k: v for k, v in res.extra.items()
                     if isinstance(v, (int, float))})
        if a.trace:
            import layers

            probes = _probes(spark, tr, res)
            tr.collect()
            metrics = layers.per_layer(tr, ctx, probes)
            os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
            out = os.path.join(STATE, "traces", f"{a.workload}-seed{a.seed}.json")
            spans.write(out, tr, {"info": info, "metrics": metrics,
                                  "self_s": spans.self_time(tr.spans)})
            info["trace_file"] = os.path.relpath(out, ROOT)
            info["trace_overhead_ms_per_op"] = metrics["trace.overhead_ms_per_op"]
            units = layers.UNITS
        else:
            rss_py = _hwm_mb(os.getpid())
            rss_jvm = _hwm_mb(spark._jvm.java.lang.ProcessHandle.current().pid())
            info.update(rss_python_mb=rss_py, rss_jvm_mb=rss_jvm)
            rss = rss_py + rss_jvm
            metrics = {
                "setup_s": res.setup_s,
                "query_mean_ms": statistics.fmean(res.query_ms),
                "write_docs_per_s": res.write_docs / res.write_s,
                "index_bytes_per_doc": res.index_bytes / res.index_docs,
                "write_bytes_per_doc": res.written_bytes / res.write_docs,
                "peak_rss_mb": rss,
            }
            units = END_TO_END
        print(json.dumps(info), flush=True)
        failed = len(res.failed_ids)
        print(json.dumps({
            "correct": failed == 0, "attempted": res.attempted, "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }), flush=True)
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


def _stop(spark) -> None:
    """Stop Spark, then wait for the driver JVM and every process it forked
    (the Python workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    forked = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:  # a hung JVM must not outlive the run
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while forked and time.monotonic() < deadline:
        forked = [p for p in forked if _alive(p)]
        time.sleep(0.1)
    for p in forked:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid``, read from /proc."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue  # exited while listing
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        todo.extend(kids)
    return out


if __name__ == "__main__":
    sys.exit(main())
