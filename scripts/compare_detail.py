#!/usr/bin/env python3
"""Full-tree round-over-round bench comparison (r14 verdict item 5).

Usage: compare_detail.py <prev_detail.json> <now_detail.json> [topN]

Reads two BENCH_DETAIL-style files (the `queries` map: line -> seconds)
and prints the per-line speedup table over ALL common lines — geomean,
totals, and the biggest movers both ways — so the round's verdict is
not hostage to the inline worst-25 window (wins that leave the window
and noise-regressions of untouched lines otherwise dominate). When both
files carry the `layers` map, each mover also shows its jobs and tasks
on both sides.
"""
import json
import math
import sys


def load(path):
    d = json.load(open(path))
    return ({k: v for k, v in d.get("queries", {}).items() if v and v > 0},
            d.get("layers"))


def main():
    (prev, prev_l), (now, now_l) = load(sys.argv[1]), load(sys.argv[2])

    def counts(k):
        if not (prev_l and now_l and k in prev_l and k in now_l):
            return ""
        a, b = prev_l[k], now_l[k]
        return (f"  jobs {a['jobs']}->{b['jobs']}"
                f"  tasks {a['tasks']}->{b['tasks']}")
    top_n = int(sys.argv[3]) if len(sys.argv) > 3 else 15
    common = sorted(set(prev) & set(now))
    ratios = {k: prev[k] / now[k] for k in common}
    geo = math.exp(sum(math.log(r) for r in ratios.values()) / len(ratios))
    tp, tn = sum(prev[k] for k in common), sum(now[k] for k in common)
    print(f"common lines: {len(common)}   "
          f"only-prev: {len(set(prev) - set(now))}   "
          f"only-now: {len(set(now) - set(prev))}")
    print(f"common-line totals: {tp:.1f} s -> {tn:.1f} s "
          f"({tp / tn:.3f}x)   per-line geomean: {geo:.3f}x")
    movers = sorted(ratios.items(), key=lambda kv: -kv[1])
    print(f"\nbiggest improvements (prev s -> now s, speedup):")
    for k, r in movers[:top_n]:
        print(f"  {prev[k]:7.2f} -> {now[k]:7.2f}  {r:5.2f}x  {k}{counts(k)}")
    print(f"\nbiggest regressions:")
    for k, r in movers[-top_n:][::-1]:
        if r >= 1:
            break
        print(f"  {prev[k]:7.2f} -> {now[k]:7.2f}  {r:5.2f}x  {k}{counts(k)}")


if __name__ == "__main__":
    main()
