#!/usr/bin/env python3
"""Smoke test of the benchmark itself.

    python3 perfbench/smoke_test.py

Runs every workload briefly on tiny inputs (scale factor 0.001, one
set-up), untraced and traced, and checks that every output passes its
check and that the printed metric names are exactly BENCHMARK.json's:
end_to_end without tracing, per_layer with it (a subset for workloads
BENCHMARK.json does not list). Exits non-zero if any check fails.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
from run import WORKLOADS  # noqa: E402


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    listed = {w["name"] for w in spec["workloads"]}
    missing = listed - set(WORKLOADS)
    if missing:
        sys.exit(f"BENCHMARK.json names unknown workloads {sorted(missing)}")
    problems = []
    for w in WORKLOADS:
        for trace in (0, 1):
            want = {m["name"] for m in
                    spec["per_layer" if trace else "end_to_end"]}
            r = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"),
                 "--workload", w, "--seed", "7", "--seconds", "2",
                 "--trace", str(trace), "--sf", "0.001", "--setups", "1"],
                cwd=ROOT, capture_output=True, text=True, timeout=900)
            tag = f"{w} trace={trace}"
            if r.returncode != 0:
                problems.append(f"{tag}: exit {r.returncode}: {r.stderr[-2000:]}")
                continue
            out = json.loads(r.stdout.strip().splitlines()[-1])
            got = set(out["metrics"])
            if got != want and (w in listed or not got <= want):
                problems.append(f"{tag}: metrics {sorted(got ^ want)} differ")
            if not out["correct"] or out["failed"] or out["attempted"] < 1:
                problems.append(f"{tag}: correct={out['correct']} "
                                f"failed={out['failed']}/{out['attempted']}")
            if any(not isinstance(v["value"], (int, float))
                   for v in out["metrics"].values()):
                problems.append(f"{tag}: non-numeric metric value")
            print(f"{tag}: ok ({out['attempted']} ops)", flush=True)
    for p in problems:
        print("FAIL", p)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
