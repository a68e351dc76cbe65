"""The benchmark's own smoke test, at tiny sizes.

    python3 perfbench/smoke.py

For each workload in BENCHMARK.json: one untraced run must print exactly
the end-to-end metrics with their units and pass every check; one traced
run with one deliberately corrupted result row must print exactly the
per-layer metrics and count that row (and only it) as failed. Finally the
benchmark must refuse to run, without printing a result, from a directory
holding only BENCHMARK.json and the benchmark's own files.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY = {
    "interactive": {"docs": 2000},
    "ingest": {"docs": 2000, "append": 300, "delete": 50},
}


def _run(cwd: str, bench: dict, workload: str, trace: int, sizes: dict):
    cmd = [*bench["command"], "--workload", workload, "--seed", "7",
           "--seconds", "3", "--trace", str(trace), "--sizes", json.dumps(sizes)]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    problems = []
    for wl in (w["name"] for w in bench["workloads"]):
        rc, out, err = _run(ROOT, bench, wl, 0, TINY[wl])
        if rc != 0 or out is None:
            problems.append(f"{wl}: untraced run failed (rc {rc}): {err[-1500:]}")
            continue
        units = {k: v["unit"] for k, v in out["metrics"].items()}
        if units != e2e:
            problems.append(f"{wl}: end-to-end metrics {units} != {e2e}")
        if not out["correct"] or out["failed"] or out["attempted"] < 1:
            problems.append(f"{wl}: untraced run not correct: {out}")
        if any(v["value"] <= 0 for v in out["metrics"].values()):
            problems.append(f"{wl}: an end-to-end metric is not positive: {out}")

        rc, out, err = _run(ROOT, bench, wl, 1, {**TINY[wl], "corrupt": True})
        if rc != 0 or out is None:
            problems.append(f"{wl}: traced run failed (rc {rc}): {err[-1500:]}")
            continue
        units = {k: v["unit"] for k, v in out["metrics"].items()}
        if units != layer:
            problems.append(f"{wl}: per-layer metrics differ from BENCHMARK.json: "
                            f"{sorted(set(units) ^ set(layer))}")
        if out["failed"] != 1 or out["correct"]:
            problems.append(f"{wl}: corrupted row not counted exactly once: {out}")
        print(wl, "ok" if not problems else "FAILED", flush=True)

    bare = os.path.join(ROOT, ".perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in bench["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    rc, out, _ = _run(bare, bench, bench["workloads"][0]["name"], 0, {})
    shutil.rmtree(bare, ignore_errors=True)
    if rc == 0 or out is not None:
        problems.append(f"bare directory: rc {rc}, output {out}")

    for p in problems:
        print("FAIL", p)
    print("smoke:", "ok" if not problems else f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
