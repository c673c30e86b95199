#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds graft's main
sources together with the benchmark (perfbench/build.sbt, via sbt)
into .bench_build/; later runs reuse the build while the sources are
unchanged. Each run then starts one JVM on local[nproc], sets the
workload up, warms it up, drives it for --seconds, checks its outputs
and prints a summary followed by one JSON line:

    {"correct": true, "attempted": 96, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics; with
--trace 1 they are its per_layer metrics, from a run that wraps every
call into graft in a span (perfbench/README.md explains each figure).
All state of a run lives in a fresh directory under .bench_build/runs/,
deleted when the run ends.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt-target", "scala-2.13", "classes")
STAMP = os.path.join(BUILD, "build.stamp")
WORKLOADS = ["store_ingest", "analytics_mix"]
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_fingerprint():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole group
    and wait for it. Returns the exit code, or None on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def build():
    for need in (os.path.join(ROOT, "src", "main", "scala", "graft"),
                 os.path.join(HERE, "build.sbt")):
        if not os.path.exists(need):
            fail(f"{os.path.relpath(need, ROOT)} is missing: run from a graft checkout")
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    fp = source_fingerprint()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == fp:
        return
    os.makedirs(BUILD, exist_ok=True)
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                         BUILD_TIMEOUT_S, cwd=HERE, stdout=log, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL)
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail("build failed" if code is not None else "build timed out")
    with open(STAMP, "w") as f:
        f.write(fp)


def java_cmd(args, work):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must name a Spark install (its jars are the runtime classpath)")
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else "java"
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed-size heap and the throughput collector keep GC from adding
    # run-to-run noise (no heap resizing, no concurrent marking threads)
    return [java, *opens, "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", CLASSES + os.pathsep + os.path.join(spark_home, "jars", "*"),
            "perfbench.Main", *args]


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def summary(res):
    """Human-readable lines printed before the JSON result."""
    lines = [f"workload {res['workload']} seed {res['seed']} traced {res['traced']}: "
             f"{res['iterations']} iterations in {res['timed_s']:.2f} s, "
             f"{res['attempted']} ops attempted, {res['failed']} failed"]
    for k, v in res["end_to_end"].items():
        lines.append(f"  {k} = {v}")
    for k, d in res["details"].items():
        lines.append(f"  {k} = {d['value']} {d['unit']}")
    for k, d in res["latencies"].items():
        lines.append(f"  {k} latency quartiles (s) {d['quartiles_s']} over {d['n']} samples")
    lines.append(f"  per-key median latency (s) {json.dumps(res['key_median_s'])}")
    lines.append(f"  setup {json.dumps(res['setup_breakdown'])}")
    lines.append(f"  iterations (s) {json.dumps(res['iteration_s'])}")
    lines.append(f"  inputs {json.dumps(res['properties'])}")
    lines.append(f"  host {json.dumps(res['context'])}")
    for n in res["notes"]:
        lines.append(f"  note: {n}")
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()
    # on SIGTERM unwind like an interrupt, so the child process group is
    # killed and waited for and the run directory is removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    build()
    # set-up time starts here: the one-time build is not part of it
    t0_ms = int(time.time() * 1000)
    spec = load_spec()
    runs = os.path.join(BUILD, "runs")
    work = os.path.join(runs, f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    log_path = os.path.join(BUILD, "logs", f"{a.workload}-{a.seed}-{a.trace}.log")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", out, "--t0-ms", str(t0_ms)]
    if a.trace:
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        args += ["--spans", os.path.join(BUILD, "traces", f"{a.workload}-{a.seed}.jsonl")]
    try:
        with open(log_path, "w") as log:
            code = run_group(java_cmd(args, work), RUN_TIMEOUT_S, cwd=work,
                             stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        if code != 0 or not os.path.exists(out):
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail(f"benchmark JVM {'timed out' if code is None else f'exited with {code}'}")
        with open(out) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    section = "per_layer" if a.trace else "end_to_end"
    figures = res[section]
    metrics = {}
    for m in spec[section]:
        v = figures.get(m["name"])
        if v is None:
            fail(f"the run produced no value for {m['name']}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(summary(res))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
