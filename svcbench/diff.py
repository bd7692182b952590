#!/usr/bin/env python3
"""Layer-by-layer diff of two sets of benchmark runs.

    python3 svcbench/diff.py A B [--workload W]

A and B are each a run record written by run.py (.bench_build/records/
*.json), a directory of records, or a glob. When a side holds several
records of one workload, each metric is their median. A traced record
also carries the latency_p50_s of its traced ops, so a diff of an
untraced run against the traced run of the same seed shows the whole
tracing overhead, listeners included. Rows are grouped by
layer (the metric name up to its first dot; end-to-end metrics first),
with both values, B - A, and B / A. Telemetry that makes runs
incomparable (core count, heap, shuffle partitions, versions, load) is
printed above the table.
"""
import argparse
import glob
import json
import os
import statistics
import sys


def load(spec, workload):
    if os.path.isdir(spec):
        paths = glob.glob(os.path.join(spec, "*.json"))
    else:
        paths = glob.glob(spec)
    recs = []
    for p in sorted(paths):
        with open(p) as f:
            r = json.load(f)
        if "result" in r and (workload is None or r["workload"] == workload):
            recs.append(r)
    if not recs:
        sys.exit(f"diff: no records in {spec}")
    kinds = {r["workload"] for r in recs}
    if len(kinds) > 1:
        sys.exit(f"diff: {spec} mixes workloads {sorted(kinds)}; pass --workload")
    return recs


def medians(recs):
    vals, units = {}, {}
    for r in recs:
        res = r["result"]
        for k, m in {**res.get("end_to_end", {}), **res["metrics"]}.items():
            vals.setdefault(k, []).append(m["value"])
            units[k] = m["unit"]
    return {k: statistics.median(v) for k, v in vals.items()}, units


def telemetry(recs):
    keys = ("sf", "nproc", "jvm_cpus", "xmx", "shuffle_partitions", "spark_version",
            "java_version", "git_commit", "source_digest")
    out = {k: sorted({str(r["telemetry"].get(k)) for r in recs}) for k in keys}
    out["loadavg_1m_max"] = max(max(r["telemetry"]["loadavg"][0],
                                    r["telemetry"]["loadavg_after"][0]) for r in recs)
    out["runs"] = len(recs)
    out["trace"] = sorted({r["trace"] for r in recs})
    out["workload"] = recs[0]["workload"]
    return out


def layer(name):
    return name.split(".")[0] if "." in name else "end-to-end"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--workload")
    args = ap.parse_args()
    ra, rb = load(args.a, args.workload), load(args.b, args.workload)
    ta, tb = telemetry(ra), telemetry(rb)
    for k in ta:
        flag = "" if ta[k] == tb[k] or k in ("loadavg_1m_max", "runs",
                                            "git_commit", "source_digest") else "  <- differs"
        print(f"# {k}: A={ta[k]} B={tb[k]}{flag}")
    ma, units = medians(ra)
    mb, ub = medians(rb)
    units.update(ub)
    names = list(ma) + [k for k in mb if k not in ma]
    names.sort(key=lambda k: (layer(k) != "end-to-end", layer(k)))
    print(f"{'metric':44} {'unit':6} {'A':>12} {'B':>12} {'B-A':>12} {'B/A':>7}")
    last = None
    for k in names:
        if layer(k) != last:
            last = layer(k)
            print(f"[{last}]")
        a, b = ma.get(k), mb.get(k)
        d = "" if a is None or b is None else f"{b - a:12.5g}"
        ratio = "" if not a or b is None else f"{b / a:7.3f}"
        fa = "" if a is None else f"{a:12.5g}"
        fb = "" if b is None else f"{b:12.5g}"
        print(f"{k:44} {units[k]:6} {fa:>12} {fb:>12} {d:>12} {ratio:>7}")


if __name__ == "__main__":
    main()
