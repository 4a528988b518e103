#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload supplier_sync --seed 1 --seconds 12 --trace 0

Builds the harness together with the engine sources of this checkout
(sbt, once per source change), starts one JVM on local[N] that sets up
the workload from the seed, warms up, runs the timed closed loop and
checks every answer, then prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones.
Both also write a detailed artifact under perfbench/results/ (read it
with perfbench/report.py). Everything the run writes stays under
perfbench/; its working directory is removed when it ends.

Environment:
  PERFBENCH_CPUS    cores for local[N] (default: min(4, nproc)); a
                    whole number from 1 to nproc.
  PERFBENCH_SF_DIR  input tables (default ~/testdata/sf0.1).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("supplier_sync", "corpus_dedup")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit needs these opens (the list
# org.apache.spark.launcher.JavaModuleOptions carries).
JVM_OPTS = ["-Xmx3g"] + [opt for pkg in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for opt in ("--add-opens", pkg + "=ALL-UNNAMED")]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def core_count():
    """PERFBENCH_CPUS as a validated whole number in 1..nproc."""
    nproc = os.cpu_count() or 1
    raw = os.environ.get("PERFBENCH_CPUS", "").strip()
    if not raw:
        return min(4, nproc)
    try:
        n = int(raw)
    except ValueError:
        fail("PERFBENCH_CPUS must be a whole number, got %r" % raw)
    if n < 1 or n > nproc:
        fail("PERFBENCH_CPUS must be within 1..%d (nproc), got %d" % (nproc, n))
    return n


def sources_digest():
    """A digest of every file the build compiles."""
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles harness and engine when their sources changed; returns
    the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources at %s/src/main/scala" % ROOT)
    target = os.path.join(HERE, "target")
    stamp, cp_file = os.path.join(target, "sources.sha256"), os.path.join(target, "classpath.txt")
    digest = sources_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read() == digest:
                with open(cp_file) as cf:
                    return cf.read()
    os.makedirs(target, exist_ok=True)
    log = os.path.join(target, "build.log")
    with open(log, "w") as fh:
        try:
            rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                                cwd=HERE, stdout=fh, stderr=subprocess.STDOUT,
                                timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not os.path.exists(cp_file):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail("build failed (log: %s)" % log, 3)
    with open(stamp, "w") as fh:
        fh.write(digest)
    with open(cp_file) as fh:
        return fh.read()


def run_jvm(cp, args, cpus, sf_dir):
    """Runs the workload in a JVM; returns its parsed result file."""
    work = os.path.join(HERE, ".work", "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    cmd = ["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + work, "-cp", cp, "perfbench.Main",
                                 args.workload, str(args.seed), str(args.seconds),
                                 str(args.trace), str(cpus), sf_dir, work, out]
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env)
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
        if rc != 0 or not os.path.exists(out):
            fail("workload JVM exited with code %d" % rc, 4)
        with open(out) as fh:
            return json.load(fh)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("workload JVM did not finish within %d s" % RUN_TIMEOUT_S, 5)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


def save_artifact(res, e2e, layers):
    """Writes perfbench/results/<workload>-seed<seed>-trace<t>.json; a
    traced run also gets the tracing overhead against the latest
    untraced run of the same workload."""
    results = os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)
    name = "%s-seed%d-trace%d.json" % (res["workload"], res["seed"], 1 if layers else 0)
    art = {"workload": res["workload"], "seed": res["seed"], "cpus": res["cpus"],
           "written": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
           "correct": res["failed"] == 0, "attempted": res["attempted"], "failed": res["failed"],
           "failures": res["failures"],
           "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
           "detail": stats.workload_detail(res),
           "setup": {"session_s": res["session_s"], "cold_setup_s": res["cold_setup_s"],
                     "setup_reps_s": res["setup_reps_s"],
                     "warmup_s": res["warmup_s"], "last_setup_steps_s": res["steps"]},
           "timed_s": res["timed_s"], "finish_s": res["finish_s"]}
    if layers:
        art["per_layer"] = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
        art["per_layer_sum"] = {k: v for k, (v, _) in stats.per_layer(res, sum).items()}
        art["layer_self_time"] = stats.layer_table(res)
        untraced = sorted((f for f in os.listdir(results)
                           if f.startswith(res["workload"] + "-") and f.endswith("-trace0.json")),
                          key=lambda f: os.path.getmtime(os.path.join(results, f)))
        if untraced:
            with open(os.path.join(results, untraced[-1])) as fh:
                base = json.load(fh)
            art["tracing_overhead"] = {"against": untraced[-1], "traced_over_untraced": {
                k: stats.ratio(v, base["end_to_end"][k]["value"])
                for k, (v, _) in e2e.items() if k in base["end_to_end"]}}
        art["trace"] = res["trace"]
    with open(os.path.join(results, name), "w") as fh:
        json.dump(art, fh, indent=1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    cpus = core_count()
    sf_dir = os.environ.get("PERFBENCH_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))
    if not os.path.exists(os.path.join(sf_dir, "part.parquet")):
        fail("no input tables under %s" % sf_dir)
    res = run_jvm(build(), args, cpus, sf_dir)
    e2e = stats.end_to_end(res)
    layers = stats.per_layer(res) if args.trace else None
    save_artifact(res, e2e, layers)
    for f in res["failures"]:
        print("perfbench: check failed: " + f, file=sys.stderr)
    metrics = layers if args.trace else e2e
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"],
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
