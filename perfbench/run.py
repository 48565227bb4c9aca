#!/usr/bin/env python3
"""graft benchmark: one seeded workload per invocation, closed loop, one
client, engine on local[nproc] in one JVM.

    python3 perfbench/run.py --workload short_queries --seed 1 --seconds 20 --trace 0

Builds the engine with the harness (sbt, cached by a hash of the
sources), generates the workload's inputs from the seed, runs the
harness JVM, checks the engine's outputs (DuckDB oracle SQL or the batch
twin / one-shot build), and prints the metrics. The last stdout line is
one JSON object: {"correct", "attempted", "failed", "metrics"}; with
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (see perfbench/README.md). Exits nonzero on any mismatch
or failed op.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from benchlib import catalog, compare, gen, layers, stats  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
# the engine's own JVM options (its build.sbt `javaOptions`)
JVM_OPTS = [
    "-Xmx16g", "-XX:ReservedCodeCacheSize=2g",
    *[x for p in ("java.base/java.lang", "java.base/java.lang.invoke",
                  "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
                  "java.base/java.nio", "java.base/java.util",
                  "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
                  "java.base/sun.nio.ch", "java.base/sun.nio.cs",
                  "java.base/sun.security.action", "java.base/sun.util.calendar")
      for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
]
DEADLINE_S = 175


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; returns the
    runtime classpath."""
    stamp_file, cp_file = os.path.join(BUILD, "build.stamp"), os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(BUILD)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    log("building engine and harness with sbt")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    cps = [ln for ln in p.stdout.splitlines() if "scala-2.13" in ln and ln.startswith("/")]
    if p.returncode != 0 or not cps:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def cores():
    return len(os.sched_getaffinity(0))


def make_inputs(workload, seed, data):
    if workload == "short_queries":
        gen.star_schema(data, seed, sf=0.1)
    elif workload == "heavy_queries":
        gen.star_schema(data, seed, sf=0.1)
    elif workload == "stream_drip":
        gen.stream_drops(data, seed)
    else:
        gen.artifact_inputs(data, seed)


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks():
    """(steal, total) CPU ticks since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[7], sum(v)


def e2e_metrics(result, workload):
    """End-to-end metrics from the untraced samples."""
    samples = [s for s in result["samples"] if not s["traced"] and s["ok"]]
    prim = catalog.PRIMARY[workload]
    named = [(s["name"], (s["end_us"] - s["start_us"]) / 1e6) for s in samples if s["kind"] == prim]
    lat = [v for _, v in named]
    # throughput per second of op time: the harness's own gaps between
    # ops (stream rounds starting and stopping their queries) excluded
    busy = sum(s["end_us"] - s["start_us"] for s in samples) / 1e6
    if workload == "stream_drip":
        work = sum(s["rows"] for s in samples if s["kind"] == "batch")
    else:
        work = len(samples)
    tail, pct, beyond = stats.tail(lat)
    writes = [(s["end_us"] - s["start_us"]) / 1e6 for s in samples if s["kind"] == "write"]
    return ({"setup_s": result["setup_s"], "op_p50_s": stats.median_of_kinds(named),
             "op_tail_s": tail,
             "throughput_per_s": work / busy},
            {"percentile": pct, "samples": len(lat), "beyond": beyond,
             "write_p50_s": stats.median(writes) if writes else None})


def batch_cost_split(result):
    """Per-trigger and per-row cost of a micro-batch: the least-squares
    line of untraced batch latency against the rows of its drop (the
    seeded drops mix small and large sizes). Zero without batches."""
    pts = [(s["rows"] / 1e3, (s["end_us"] - s["start_us"]) / 1e6) for s in result["samples"]
           if s["kind"] == "batch" and s["ok"] and not s["traced"]]
    if not pts:
        return {"streaming.batch_fixed_s": 0.0, "streaming.batch_s_per_krow": 0.0}
    fixed, per_krow = stats.linear_fit([p[0] for p in pts], [p[1] for p in pts])
    return {"streaming.batch_fixed_s": fixed, "streaming.batch_s_per_krow": per_krow}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(catalog.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        sys.exit(f"perfbench: engine sources not found under {ENGINE_SRC}")

    cp = build()
    t_start = time.time()  # the run's own deadline starts after a build
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}")
    shutil.rmtree(os.path.join(BUILD, "runs"), ignore_errors=True)
    data, work = os.path.join(run_dir, "data"), os.path.join(run_dir, "work")
    for d in (data, os.path.join(work, "tmp"), os.path.join(work, "local")):
        os.makedirs(d)
    make_inputs(a.workload, a.seed, data)
    load_start, ticks_start = loadavg(), cpu_ticks()

    out = os.path.join(run_dir, "result.json")
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/local",
           "-cp", cp, "graftbench.Main", "--workload", a.workload, "--data", data,
           "--work", work, "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--seed", str(a.seed), "--cores", str(cores()), "--out", out,
           "--launch-us", str(int(time.time() * 1e6))]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=run_dir)
    try:
        rc = proc.wait(timeout=max(30.0, DEADLINE_S - (time.time() - t_start)))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit("perfbench: harness timed out")
    if rc != 0 or not os.path.exists(out):
        sys.exit(f"perfbench: harness exited with {rc}")
    ticks_end = cpu_ticks()
    with open(out) as f:
        result = json.load(f)

    checks = compare.run_checks(result["checks"], data)
    for name, reason in checks:
        if reason:
            log(f"MISMATCH {name}: {reason}")
    attempted, failed = compare.failure_counts(result["samples"], checks)
    correct = failed == 0

    e2e, tail_info = e2e_metrics(result, a.workload)
    named = {catalog.NAMED[a.workload].get(k, k): v for k, v in e2e.items()}
    named["heap_retained_mb"] = result["heap_retained_mb"]
    if tail_info["write_p50_s"] is not None:
        named["write_p50_s"] = tail_info["write_p50_s"]
    named["failed_ratio"] = failed / attempted
    units = {n: u for n, u, *_ in catalog.END_TO_END}
    summary = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "named_metrics": named,
        "tail": {"percentile": tail_info["percentile"], "samples": tail_info["samples"],
                 "beyond": tail_info["beyond"]},
        "passes": result["passes"], "cut": result["cut"],
        "host": {"nproc": cores(), "loadavg_start": load_start,
                 "loadavg_end": loadavg(), "canary_ms": result["canary_ms"],
                 # share of CPU time the hypervisor gave to other guests
                 "steal_share": (ticks_end[0] - ticks_start[0]) /
                                max(1, ticks_end[1] - ticks_start[1])},
        "setup_parts_s": {k: result[k] for k in ("jvm_start_s", "session_s", "register_s",
                                                 "warmup_s")},
        "checks": {"passed": sum(1 for _, r in checks if r is None), "total": len(checks)},
    }
    if a.trace:
        per = layers.layer_metrics(result, cores())
        per["op.write_p50_s"] = tail_info["write_p50_s"] or 0.0
        per["op.failed_ratio"] = failed / attempted
        per.update(batch_cost_split(result))
        prim = catalog.PRIMARY[a.workload]
        traced = [(s["name"], (s["end_us"] - s["start_us"]) / 1e6) for s in result["samples"]
                  if s["traced"] and s["ok"] and s["kind"] == prim]
        per["trace.overhead"] = (stats.median_of_kinds(traced) / e2e["op_p50_s"] - 1
                                 if traced else 0.0)
        trace_dir = os.path.join(BUILD, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_file = os.path.join(trace_dir, f"{a.workload}-s{a.seed}.json")
        with open(trace_file, "w") as f:
            json.dump(result["traced"]["trace"], f)
        summary["spans_file"] = os.path.relpath(trace_file, ROOT)
        listed = catalog.PER_LAYER + (
            catalog.EXTRA_LAYER if a.workload == "artifact_rw" else [])
        metrics = {n: {"value": per[n], "unit": u} for n, u, *_ in listed}
    else:
        metrics = {n: {"value": e2e[n], "unit": units[n]} for n in units}
    print(json.dumps(summary))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
