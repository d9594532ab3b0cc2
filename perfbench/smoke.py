#!/usr/bin/env python3
"""The benchmark's own smoke check.

    python3 perfbench/smoke.py

Runs every workload in BENCHMARK.json once untraced and once traced on a
tiny corpus shaped like sf0.001 (one session build, a cold pass and two
warm passes), and fails when a run fails, its output check fails, or its
result line does not carry exactly the metrics BENCHMARK.json names, with
their units.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    wanted = {0: [m["name"] for m in bench["end_to_end"]],
              1: [m["name"] for m in bench["per_layer"]]}
    problems = []
    for w in bench["workloads"]:
        for trace in (0, 1):
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w["name"],
                 "--seed", "1", "--seconds", "60", "--trace", str(trace), "--smoke"],
                cwd=ROOT, capture_output=True, text=True)
            tag = f"{w['name']} trace={trace}"
            try:
                res = json.loads(p.stdout.strip().split("\n")[-1])
            except (ValueError, IndexError):
                problems.append(f"{tag}: exit {p.returncode}, no result line\n{p.stderr[-2000:]}")
                continue
            missing = [n for n in wanted[trace] if n not in res["metrics"]]
            extra = [n for n in res["metrics"] if n not in wanted[trace]]
            if missing or extra:
                problems.append(f"{tag}: missing metrics {missing}, unlisted metrics {extra}")
            units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
            wrong = [n for n, v in res["metrics"].items() if n in units and v["unit"] != units[n]]
            if wrong:
                problems.append(f"{tag}: units differ from BENCHMARK.json for {wrong}")
            if not res["correct"] or res["failed"]:
                problems.append(f"{tag}: output check failed\n{p.stdout[-2000:]}")
            print(f"{tag}: exit {p.returncode}, {len(res['metrics'])} metrics, "
                  f"{res['attempted']} ops attempted, {res['failed']} failed", flush=True)
    for x in problems:
        print("SMOKE FAIL", x)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
