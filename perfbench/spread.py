"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workloads interactive ingest --seeds 1-10

For every workload and metric (end-to-end, or per-layer with ``--trace 1``)
prints the median, the interquartile range as a share of the median
(``statistics.quantiles(n=4)``) and the metric's bound from BENCHMARK.json;
also each run's wall time and the median request latency, whose traced
minus untraced difference is the tracing overhead.
Writes all results to ``.perfbench/spread.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+",
                    default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    out: dict = {}
    for wl in a.workloads:
        runs = []
        for seed in _seeds(a.seeds):
            cmd = [*bench["command"], "--workload", wl, "--seed", str(seed),
                   "--seconds", str(bench["run_seconds"]), "--trace", str(a.trace)]
            t0 = time.perf_counter()
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            wall = time.perf_counter() - t0
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if p.returncode == 0 else {"error": p.stderr[-2000:]}
            if p.returncode == 0:
                res["details"] = json.loads(lines[-2])
            res["wall_s"] = wall
            runs.append(res)
            print(wl, seed, f"{wall:.1f}s", "rc", p.returncode,
                  {k: round(v["value"], 3) for k, v in res.get("metrics", {}).items()},
                  "failed", res.get("failed"), flush=True)
        out[wl] = runs
        ok = [r for r in runs if "metrics" in r]
        for name in (ok[0]["metrics"] if ok else []):
            vals = [r["metrics"][name]["value"] for r in ok]
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med] * 3
            spread = (q[2] - q[0]) / med if med else float("nan")
            print(f"  {wl:12s} {name:24s} median {med:12.3f} spread {spread:6.3f}"
                  f" bound {bounds.get(name, '-')}", flush=True)
        if ok:
            # with --trace 1 this against an untraced run is the tracing overhead
            print(f"  {wl:12s} details query_p50_ms median "
                  f"{statistics.median(r['details']['query_p50_ms'] for r in ok):.1f}")
        print(f"  {wl:12s} wall_s median {statistics.median(r['wall_s'] for r in runs):.1f}"
              f" max {max(r['wall_s'] for r in runs):.1f}", flush=True)
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    with open(os.path.join(ROOT, ".perfbench", "spread.json"), "w") as fh:
        json.dump(out, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
