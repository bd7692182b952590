#!/usr/bin/env python3
"""Smoke check of the benchmark itself at sf0.001.

    python3 svcbench/smoke.py

Runs every workload for one second on the sf0.001 fixture, untraced and
traced, and checks that each run prints a result line whose outputs are
correct and whose metrics are exactly the ones BENCHMARK.json lists for
that mode. Exits non-zero on the first failure.
"""
import json
import os
import subprocess
import sys

from run import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    listed = {w["name"] for w in bench["workloads"]}
    want = {0: {m["name"] for m in bench["end_to_end"]},
            1: {m["name"] for m in bench["per_layer"]}}
    for w in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                   "--seed", "7", "--seconds", "1", "--trace", str(trace),
                   "--sf", "0.001"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                sys.exit(f"smoke: {w} trace={trace} exited {p.returncode}\n{p.stderr[-2000:]}")
            res = json.loads(lines[-1])
            got = set(res["metrics"])
            problems = []
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append("outputs not correct: " +
                                "; ".join(l for l in lines if "check failed" in l))
            if w in listed and got != want[trace]:
                problems.append(f"metrics differ from BENCHMARK.json: "
                                f"missing {sorted(want[trace] - got)}, "
                                f"extra {sorted(got - want[trace])}")
            if trace == 0 and any(m["value"] <= 0 for m in res["metrics"].values()):
                problems.append("an end-to-end metric is not positive")
            print(f"smoke: {w} trace={trace} attempted={res['attempted']} "
                  f"{'ok' if not problems else 'FAILED'}")
            if problems:
                sys.exit("smoke: " + "\n".join(problems))
    print("smoke: all workloads ok")


if __name__ == "__main__":
    main()
