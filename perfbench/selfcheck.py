#!/usr/bin/env python3
"""Self-check of the benchmark at toy sizes.

    python3 perfbench/selfcheck.py

Runs every workload in BENCHMARK.json at toy size, untraced and traced,
each in a fresh process the way the benchmark is run. It checks that
every run exits 0, answers every op correctly, and prints exactly the
metric names and units BENCHMARK.json lists for its mode. A last run
plants one wrong answer and checks that it is counted as a failure.
Exits non-zero on the first problem.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TOY = ["--seed", "7", "--seconds", "2", "--scale", "0.05"]


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"),
           "--workload", workload, "--trace", str(trace), *TOY, *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=900)
    if p.returncode != 0:
        sys.exit(f"FAIL {' '.join(cmd[1:])}: exit {p.returncode}\n"
                 f"{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    units = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
             1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    for w in (w["name"] for w in bench["workloads"]):
        for trace in (0, 1):
            res = run(w, trace)
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                sys.exit(f"FAIL {w} trace={trace}: keys {sorted(res)}")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != units[trace]:
                sys.exit(f"FAIL {w} trace={trace}: metrics {got} "
                         f"!= {units[trace]}")
            if (res["failed"] or not res["correct"]
                    or res["attempted"] < 1):
                sys.exit(f"FAIL {w} trace={trace}: {res['failed']} of "
                         f"{res['attempted']} ops failed")
            print(f"ok   {w} trace={trace}: {res['attempted']} ops, "
                  f"{len(got)} metrics")
    w = bench["workloads"][0]["name"]
    res = run(w, 0, "--plant-wrong")
    if res["failed"] < 1 or res["correct"]:
        sys.exit(f"FAIL {w}: a planted wrong answer was not counted "
                 f"({res['failed']} failed, correct={res['correct']})")
    print(f"ok   {w} planted wrong answer: {res['failed']} of "
          f"{res['attempted']} ops failed, correct=false")
    return 0


if __name__ == "__main__":
    sys.exit(main())
