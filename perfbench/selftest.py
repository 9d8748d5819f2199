#!/usr/bin/env python3
"""Miniature self-test of the benchmark (about five minutes on 4 cores).

For each workload in BENCHMARK.json it makes two short runs:
  1. --trace 1: must pass its checks and emit every per_layer metric;
  2. --trace 0 with a planted wrong expectation: must emit every
     end_to_end metric, report correct=false and exit non-zero.

Usage (from the repository root): python3 perfbench/selftest.py
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace, plant_wrong):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--plant-wrong", str(plant_wrong)],
        cwd=ROOT, capture_output=True, text=True, timeout=400)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"] for m in bench["end_to_end"]}
    layers = {m["name"] for m in bench["per_layer"]}
    failures = []
    for w in (w["name"] for w in bench["workloads"]):
        rc, res = run(w, trace=1, plant_wrong=0)
        if rc != 0 or not res or not res["correct"]:
            failures.append(f"{w}: traced run failed (exit {rc})")
        elif set(res["metrics"]) != layers:
            failures.append(f"{w}: per-layer metrics differ: "
                            f"{sorted(set(res['metrics']) ^ layers)}")
        rc, res = run(w, trace=0, plant_wrong=1)
        if rc == 0 or not res or res["correct"]:
            failures.append(f"{w}: planted wrong expectation was not caught (exit {rc})")
        elif set(res["metrics"]) != e2e:
            failures.append(f"{w}: end-to-end metrics differ: "
                            f"{sorted(set(res['metrics']) ^ e2e)}")
        print(f"{w}: {'ok' if not any(x.startswith(w) for x in failures) else 'FAIL'}")
    for f in failures:
        print("FAIL", f)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
