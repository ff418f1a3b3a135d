#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 15 --trace 0

Run from the root of a source checkout. The first run compiles the library
and the benchmark (sbt, offline); later runs reuse the build until a source
file changes. Every line but the last is for people; the last line is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones.
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

import tables  # noqa: E402

# (name, unit) printed on the last line, per workload and trace mode.
SERVE_E2E = [("setup_s", "s"), ("search_p50_ms", "ms"), ("ask_p50_ms", "ms"),
             ("ops_per_s", "1/s"), ("bytes_per_user_byte", "ratio")]
SERVE_LAYER = [
    ("api.search.jobs", "count"), ("api.search.job_ms", "ms"),
    ("api.search.driver_ms", "ms"), ("api.search.plan_ms", "ms"),
    ("api.ask.jobs", "count"), ("api.ask.job_ms", "ms"), ("api.ask.driver_ms", "ms"),
    ("api.search.plain_p50_ms", "ms"), ("api.search.track_p50_ms", "ms"),
    ("api.search.phrase_p50_ms", "ms"), ("api.search.wildcard_p50_ms", "ms"),
    ("api.search.acl_p50_ms", "ms"),
    ("search.parse_ms", "ms"), ("search.indexed_ms", "ms"), ("search.indexed.jobs", "count"),
    ("search.sketch_ms", "ms"), ("search.sketch.jobs", "count"),
    ("search.sketch_kept", "count"), ("search.sketch_yield", "ratio"),
    ("acl.enforce_ms", "ms"), ("acl.enforce.jobs", "count"), ("acl.allowed_ratio", "ratio"),
    ("ask.lex_rung_ms", "ms"), ("ask.rungs", "count"),
    ("vector.embed_ms", "ms"), ("vector.ann_ms", "ms"), ("vector.ann.jobs", "count"),
    ("store.version_probe_ms", "ms"), ("store.latest_active_plan_ms", "ms"),
    ("store.log_bytes", "bytes"), ("search.postings_bytes", "bytes"),
    ("search.sketch_bytes", "bytes"), ("vector.ivf_bytes", "bytes"),
]
BATCH_E2E = [("setup_s", "s"), ("batch_first_s", "s"), ("batch_steady_s", "s")]
BATCH_LAYER = [("pipeline.steady_s", "s"), ("pipeline.steady.jobs", "count"),
               ("dedup.steady_s", "s"), ("dedup.steady.jobs", "count"),
               ("streaming.steady_s", "s"), ("streaming.steady.jobs", "count"),
               ("batch.first_tax_s", "s")]
REQUIRED = {
    "serve_read": (SERVE_E2E, SERVE_LAYER),
    "serve_ingest": (SERVE_E2E, SERVE_LAYER),
    "batch_gates": (BATCH_E2E, BATCH_LAYER),
}

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# a registered (serving) run must end within 180 s, compiling aside;
# batch_gates makes two passes over 25 gates and then checks them
RUN_LIMIT_S = {"batch_gates": 600}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """digest of everything the build compiles"""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """compile once per source state; returns the classes directory"""
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    digest = sources_digest()
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    log("compiling the library and the benchmark (sbt)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
                   env=env, stdout=sys.stderr, stderr=sys.stderr, check=True)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes


def run_jvm(classes, args, run_dir, deadline):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        raise RuntimeError("SPARK_HOME is not set")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx2g", "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{classes}{os.pathsep}{os.path.join(spark_home, 'jars', '*')}",
        "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--root", run_dir, "--out", os.path.join(run_dir, "report.json")]
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError("the JVM ran past the run's time limit")
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        raise RuntimeError(f"the JVM exited with {rc}")
    with open(os.path.join(run_dir, "report.json")) as fh:
        return json.load(fh)


def fmt(v):
    return "null" if v is None else f"{v:.6g}"


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(REQUIRED))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log(f"no library sources under {ROOT}/src/main/scala: run from a source checkout")
        return 2

    classes = build()
    start = time.time()  # the time limit counts from here: a first run also compiles
    run_dir = os.path.join(ROOT, ".bench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        if args.workload == "batch_gates":
            tables.generate(os.path.join(run_dir, "data"), args.seed)
        deadline = start + RUN_LIMIT_S.get(args.workload, 170)
        rep = run_jvm(classes, args, run_dir, deadline)
        if args.workload == "batch_gates":
            tables.check_gates(run_dir, rep)
        # keep the full report, and the spans of a traced run, after the
        # run directory is gone
        out = os.path.join(ROOT, ".bench_out")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, f"report-{args.workload}-{args.seed}-{args.trace}.json"),
                  "w") as fh:
            json.dump(rep, fh, indent=1)
        if args.trace:
            shutil.copy(os.path.join(run_dir, "trace.jsonl"),
                        os.path.join(out, f"trace-{args.workload}-{args.seed}.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    metrics = rep["metrics"]
    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} " + " ".join(f"{k}={v}" for k, v in rep["info"].items()))
    for name, m in metrics.items():
        print(f"  {name} = {fmt(m['value'])} {m['unit']}" + (f"  ({m['note']})" if m["note"] else ""))
    attempted, failed = rep["attempted"], rep["failed"]
    print(f"  error_rate = {failed / max(attempted, 1):.6g} ratio  "
          f"(failed={failed} attempted={attempted})")
    for name, n in rep["failures"].items():
        print(f"  FAILED {name}: {n}")

    wanted = REQUIRED[args.workload][args.trace]
    missing = [n for n, _ in wanted if n not in metrics or metrics[n]["value"] is None]
    if missing:
        log(f"metrics not measured: {', '.join(missing)}")
        return 1
    result = {
        "correct": failed == 0,
        "attempted": max(int(attempted), 1),
        "failed": int(failed),
        "metrics": {n: {"value": metrics[n]["value"], "unit": u} for n, u in wanted},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
