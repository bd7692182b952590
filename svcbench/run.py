#!/usr/bin/env python3
"""Service benchmark for the graft ETL service.

    python3 svcbench/run.py --workload service_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the service and the
harness with sbt and generates the sf0.1 fixture with graft.tools.ScaleGen
into .bench_build/; later runs reuse both while their sources are
unchanged. One JVM then runs the workload (set-up, serial warm-up, a
measured window of --seconds), DuckDB checks its outputs, and the last
line of stdout is the result JSON. --trace 0 reports the end-to-end
metrics, --trace 1 the per-layer ones. Every run also leaves a record
(telemetry, set-up phases, every op, metrics) in .bench_build/records/,
which diff.py compares. See README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import checks

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("service_mix", "lake_etl")
CORES = 4
XMX = "3g"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700
ADD_OPENS = [x for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"svcbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run(cmd, log, limit, cwd=ROOT, env=None):
    """Run `cmd` in its own process group; kill the group on timeout or
    when this script is terminated."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                             stderr=subprocess.STDOUT, start_new_session=True)

        def stop(signum, frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"terminated by signal {signum}")
        old = [signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)]
        try:
            return p.wait(timeout=max(1, limit))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"{cmd[0]} timed out after {limit:.0f} s; see {log}")
        finally:
            for s, h in zip((signal.SIGTERM, signal.SIGINT), old):
                signal.signal(s, h)


def digest(paths):
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            f for f in glob.glob(os.path.join(top, "**", "*"), recursive=True)
            if os.path.isfile(f) and "/target/" not in f)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(limit):
    """Compile the service and the harness; return the runtime classpath."""
    srcs = [os.path.join(ROOT, p) for p in
            ("src/main", "build.sbt", "project/build.properties")]
    srcs += [os.path.join(HERE, p) for p in
             ("src", "build.sbt", "project/build.properties")]
    dg = digest(srcs)
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s["digest"] == dg and all(os.path.exists(p) for p in s["cp"].split(":")):
            return s["cp"], False
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp}"
    log = os.path.join(BUILD, "build.log")
    code = run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                "-Dsbt.server.autostart=false", "compile",
                "export Runtime/fullClasspath"], log, limit, cwd=HERE, env=env)
    with open(log) as f:
        lines = [l.strip() for l in f]
    cp = [l for l in lines if l.startswith("/") and ".jar" in l]
    if code != 0 or not cp:
        fail(f"build failed (exit {code}); see {log}")
    with open(stamp, "w") as f:
        json.dump({"digest": dg, "cp": cp[-1]}, f)
    return cp[-1], True


def java(cp, main, args, tmp):
    return (["java"] + ADD_OPENS +
            [f"-Xmx{XMX}", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-cp", cp, main] + args)


def fixture(cp, sf, limit):
    """Generate the seeded fixture at scale `sf` once per generator source."""
    out = os.path.join(BUILD, "data", f"sf{sf}")
    gen = os.path.join(ROOT, "src/main/scala/graft/tools/ScaleGen.scala")
    dg = digest([gen])
    ready = os.path.join(out, "_READY")
    if os.path.exists(ready) and open(ready).read() == dg:
        return out, False
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES))
    code = run(java(cp, "graft.tools.ScaleGen", [str(sf), out], tmp),
               os.path.join(BUILD, "scalegen.log"), limit, env=env)
    if code != 0:
        fail(f"fixture generation failed (exit {code})")
    with open(ready, "w") as f:
        f.write(dg)
    return out, True


def betai(a, b, x):
    """Regularized incomplete beta I_x(a, b), by its continued fraction."""
    if x <= 0 or x >= 1:
        return 0.0 if x <= 0 else 1.0
    if x > (a + 1) / (a + b + 2):
        return 1.0 - betai(b, a, 1.0 - x)
    lnf = (math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
           + a * math.log(x) + b * math.log(1 - x))
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1)
    d = 1.0 / (d if abs(d) > 1e-300 else 1e-300)
    h = d
    for m in range(1, 300):
        for num in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > 1e-300 else 1e-300)
            c = 1.0 + num / c
            c = c if abs(c) > 1e-300 else 1e-300
            h *= d * c
        if abs(d * c - 1.0) < 1e-12:
            break
    return math.exp(lnf) * h / a


def quantile(xs, q):
    """Harrell-Davis estimate of the q-quantile: a Beta-weighted average
    of all order statistics. Unlike the single middle sample it does not
    jump between the cost clusters of a mixed request stream."""
    xs = sorted(xs)
    n = len(xs)
    if n == 1:
        return xs[0]
    a, b = q * (n + 1), (1 - q) * (n + 1)
    cdf = [betai(a, b, i / n) for i in range(n + 1)]
    return sum(x * (cdf[i + 1] - cdf[i]) for i, x in enumerate(xs))


def e2e(rec):
    ops = [o for o in rec["ops"] if o["ok"]]
    lat = [o["lat"] for o in ops]
    if rec["unit"] == "request":
        thr = len(ops) / rec["window"]["wall_s"]
    else:
        thr = statistics.median(o["rows_in"] for o in ops) / quantile(lat, 0.5)
    return {
        "setup_s": (rec["setup"]["total_s"], "s"),
        "throughput": (thr, "1/s"),
        "latency_p50_s": (quantile(lat, 0.5), "s"),
        "live_heap_peak_mb": (max(rec["window"]["heap_samples_mb"]), "MB"),
    }


def per_layer(rec, derived):
    """Per-layer metrics of a traced run; 0 for a layer the workload skips.
    `derived` holds what the checks computed (the ANN recall)."""
    ops = rec["ops"]
    n = len(ops)
    traced = [o for o in ops if o["traced"]]
    nt = max(1, len(traced))
    L = rec["layers"]
    sp = rec["spark"]

    def lay(name, field="self_s"):
        return L.get(name, {}).get(field, 0) / nt

    def mean_check(key):
        vals = [o["check"][key] for o in ops if o["ok"] and key in o["check"]]
        return statistics.mean(vals) if vals else 0

    m = {
        "Tables.load_s": (lay("Tables.load"), "s"),
        "Tables.load_calls": (lay("Tables.load", "calls"), "count"),
        "EtlService.build_s": (sum(lay(f"EtlService.{e}") for e in rec["endpoints"]), "s"),
        "spark.collect_s": (lay("spark.collect"), "s"),
        "spark.plan_s": (sp["plan_s"] / n, "s"),
        "spark.plan_share": (sp["plan_s"] / sum(o["lat"] for o in ops), "ratio"),
        "spark.driver_only_s": (sp["driver_only_s"] / n, "s"),
        "spark.aqe_replans": (sp["aqe_replans"] / n, "count"),
    }
    for e in rec["endpoints"]:
        lat = [o["lat"] for o in ops if o["kind"] == e]
        m[f"EtlService.{e}_p50_s"] = (quantile(lat, 0.5) if lat else 0, "s")
    for k, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                    ("task_run_s", "s"), ("task_cpu_s", "s"),
                    ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
                    ("spill_bytes", "bytes"), ("result_bytes", "bytes"),
                    ("failed_tasks", "count")):
        m[f"spark.{k}"] = (sp[k] / n, unit)
    m["spark.peak_exec_mem_bytes"] = (sp["peak_exec_mem_bytes"], "bytes")
    m["spark.task_busy_share"] = (
        sp["task_run_s"] / (sp["window_s"] * sp["cores"]), "ratio")
    m["jvm.gc_s"] = (rec["window"]["gc_s"] / n, "s")
    rd, wr = mean_check("bytes_read"), mean_check("bytes_written")
    m.update({
        "LakeWriter.copy_s": (lay("LakeWriter.copy"), "s"),
        "LakeWriter.unload_s": (lay("LakeWriter.unload"), "s"),
        "LakeWriter.readback_s": (lay("LakeWriter.readback"), "s"),
        "LakeWriter.bytes_read": (rd, "bytes"),
        "LakeWriter.bytes_written": (wr, "bytes"),
        "LakeWriter.files_written": (mean_check("files_written"), "count"),
        "LakeWriter.rows_written": (mean_check("rows_written"), "count"),
        "LakeWriter.write_bytes_per_input_byte": (wr / rd if rd else 0, "ratio"),
        "EtlService.applyChanges_s": (lay("EtlService.applyChanges"), "s"),
        "EtlService.scdHistory_s": (lay("EtlService.scdHistory"), "s"),
        "EtlService.integrityAudit_s": (lay("EtlService.integrityAudit"), "s"),
        "Caches.clear_s": (lay("Caches.clear"), "s"),
        "Caches.storage_peak_bytes": (
            max(rec["window"]["storage_samples_bytes"] or [0]), "bytes"),
    })
    for name in ("TextOps.qualityScore", "DedupOps.minhashLshPairs",
                 "DedupOps.clusterResolve", "TextOps.decontaminate"):
        m[f"{name}_s"] = (lay(name), "s")
    m["DedupOps.clusterResolve_jobs"] = (lay("DedupOps.clusterResolve", "jobs"), "count")
    m["DedupOps.pairs"] = (mean_check("pairs"), "count")
    for name in ("EtlService.relatedParts", "EtlService.partCommunities",
                 "EtlService.recommendations", "PqOps.ivfPqSearch",
                 "EtlService.qualityScores"):
        m[f"{name}_s"] = (lay(name), "s")
        m[f"{name}_jobs"] = (lay(name, "jobs"), "count")
    m["PqOps.recall_at_10"] = (derived.get("recall_at_10", 0), "ratio")
    tl = [o["lat"] for o in traced]
    ul = [o["lat"] for o in ops if not o["traced"]]
    over = quantile(tl, 0.5) - quantile(ul, 0.5) if tl and ul else 0
    m["trace.overhead_s"] = (over, "s")
    m["trace.overhead_share"] = (over / quantile(ul, 0.5) if ul else 0, "ratio")
    m["trace.spans"] = (sum(v["calls"] for v in L.values()) / nt, "count")
    m["bench.self_s"] = (lay(rec["unit"]), "s")
    return m


def telemetry():
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True)
        commit = r.stdout.strip() or None
    return {"nproc": os.cpu_count(), "loadavg": list(os.getloadavg()[:2]),
            "git_commit": commit,
            "source_digest": digest([os.path.join(ROOT, "src/main")])[:16]}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default="0.1", help="fixture scale factor")
    a = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "src/main/scala/graft")):
        fail(f"no service sources under {ROOT}/src/main/scala/graft; "
             "run from a checkout of the repository")
    t_start = time.time()
    os.makedirs(BUILD, exist_ok=True)
    tel = telemetry()
    cp, built = build(BUILD_LIMIT_S)
    data, generated = fixture(cp, a.sf, BUILD_LIMIT_S)
    limit = RUN_LIMIT_S if not (built or generated) else BUILD_LIMIT_S

    name = f"{a.workload}-sf{a.sf}-s{a.seed}-t{a.trace}-{int(time.time() * 1000)}"
    out = os.path.join(BUILD, "runs", name)
    os.makedirs(os.path.join(out, "tmp"))
    code = run(java(cp, "svcbench.Main",
                    [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                     data, out, str(CORES)], os.path.join(out, "tmp")),
               os.path.join(out, "jvm.log"), limit - (time.time() - t_start))
    rec_path = os.path.join(out, "record.json")
    if code != 0 or not os.path.exists(rec_path):
        fail(f"benchmark JVM failed (exit {code}); see {out}/jvm.log")
    with open(rec_path) as f:
        rec = json.load(f)
    shutil.rmtree(os.path.join(out, "work"), ignore_errors=True)
    shutil.rmtree(os.path.join(out, "tmp"), ignore_errors=True)

    fails, derived = checks.CHECKS[a.workload](rec, data)
    bad_ops = {i for i, _ in fails}
    attempted = len(rec["ops"]) + len(rec["warmup"])
    failed = min(attempted, len(bad_ops))
    metrics = per_layer(rec, derived) if a.trace else e2e(rec)
    tel["loadavg_after"] = list(os.getloadavg()[:2])
    rec["telemetry"].update(tel)
    rec["telemetry"].update(xmx=XMX, sf=a.sf)
    rec["result"] = {"correct": not fails, "attempted": attempted,
                     "failed": failed, "check_failures": fails[:50],
                     "metrics": {k: {"value": v, "unit": u}
                                 for k, (v, u) in metrics.items()}}
    if a.trace:
        # the p50 of the traced ops alone, so that diff.py can set it
        # against an untraced run of the same seed
        traced = [o["lat"] for o in rec["ops"] if o["traced"] and o["ok"]]
        rec["result"]["end_to_end"] = {"latency_p50_s": {
            "value": quantile(traced, 0.5) if traced else 0, "unit": "s"}}
    rec_dir = os.path.join(BUILD, "records")
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, name + ".json"), "w") as f:
        json.dump(rec, f)

    t = rec["telemetry"]
    print(f"# {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} "
          f"sf={a.sf} record={os.path.relpath(rec_dir, ROOT)}/{name}.json")
    print(f"# nproc={t['nproc']} cores={CORES} xmx={XMX} "
          f"shuffle_partitions={t['shuffle_partitions']} spark={t['spark_version']} "
          f"java={t['java_version']} loadavg_before={t['loadavg']} "
          f"loadavg_after={t['loadavg_after']} commit={t['git_commit']} "
          f"source={t['source_digest']}")
    lat = sorted(o["lat"] for o in rec["ops"])
    tail = len(lat) - int(0.9 * len(lat)) - 1
    print(f"# {len(lat)} {rec['unit']}s measured, {rec['clients']} client(s), "
          f"error_rate={failed / attempted:.4f} ({failed}/{attempted})")
    if tail >= 10:
        print(f"# latency_p90_s={quantile(lat, 0.9):.4f} ({tail} samples beyond it)")
    else:
        print(f"# latency_p90_s not reported: {tail} samples beyond it, need 10")
    for i, msg in fails[:20]:
        print(f"# check failed (op {i}): {msg}")
    for k, (v, u) in metrics.items():
        print(f"{k} {v:.6g} {u}")
    print(json.dumps({"correct": not fails, "attempted": attempted,
                      "failed": failed,
                      "metrics": {k: {"value": v, "unit": u}
                                  for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
