#!/usr/bin/env python3
"""The benchmark's own tests. Run from the checkout root:

    python3 perfbench/test_tiny.py

1. Every workload, at tiny size, untraced and traced: exits 0, reports
   correct output with no failed op, and prints exactly the metrics
   BENCHMARK.json names for that mode.
2. In a directory holding only BENCHMARK.json and perfbench/ (no program
   sources), the benchmark exits non-zero without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(args, cwd=ROOT):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=1200)


def main():
    failures = []
    for w in (x["name"] for x in SPEC["workloads"]):
        for trace in (0, 1):
            p = run(["--workload", w, "--seed", "7", "--seconds", "2", "--trace", str(trace), "--tiny"])
            lines = p.stdout.strip().splitlines()
            try:
                res = json.loads(lines[-1])
            except (IndexError, ValueError):
                failures.append(f"{w} trace={trace}: no result line (exit {p.returncode})\n{p.stderr[-1500:]}")
                continue
            want = sorted(m["name"] for m in SPEC["per_layer" if trace else "end_to_end"])
            if p.returncode != 0 or res["correct"] is not True or res["failed"] != 0:
                failures.append(f"{w} trace={trace}: exit {p.returncode}, result {lines[-1][:300]}")
            elif sorted(res["metrics"]) != want:
                failures.append(f"{w} trace={trace}: metrics {sorted(res['metrics'])} != {want}")
            elif not (res["attempted"] >= 1 and set(res) == {"correct", "attempted", "failed", "metrics"}):
                failures.append(f"{w} trace={trace}: malformed result {lines[-1][:300]}")
            else:
                print(f"ok  {w} trace={trace}")

    bare = os.path.join(ROOT, ".bench_build", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target"))
    p = run(["--workload", SPEC["workloads"][0]["name"], "--seed", "1", "--seconds", "2", "--trace", "0"], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    if p.returncode == 0 or p.stdout.strip():
        failures.append(f"without program sources: exit {p.returncode}, stdout {p.stdout[:200]!r}")
    else:
        print("ok  fails without program sources")

    for f in failures:
        print("FAIL", f)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
