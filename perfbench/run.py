#!/usr/bin/env python3
"""graft benchmark: one command, one workload, every metric checked.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the harness
(perfbench/build.sbt: graft's engine sources plus perfbench/harness),
writes the fixed input tables and reference models under .bench_build/
and archives the classes that loads; later runs reuse all three.
The harness runs one JVM with a local Spark session sized to the machine,
drives the workload's seeded ops as a closed loop for --seconds, checks
every result against independent models, and writes a full report. This
script prints that report (every end-to-end metric with its unit and
sample count, failures by op kind, per-layer metrics when traced) and, as
the last line, one JSON object with the metrics BENCHMARK.json declares:
the end-to-end ones with --trace 0, the per-layer ones with --trace 1.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala", "graft")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
JAR = os.path.join(BUILD, "harness.jar")
# Class-data-sharing archive of the classes input preparation loads,
# written by the build, so that every run starts the same way and spends
# less of its cold start on class loading.
CDS = os.path.join(BUILD, "harness.jsa")
WORKLOADS = ("serve_read", "ingest_maintain", "llm_pipeline")
BUILD_TIMEOUT_S = 860  # compiling and input preparation together
RUN_TIMEOUT_S = 170
# The JVM flags the engine's own build runs Spark with (build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    files = []
    for base in (os.path.dirname(ENGINE_SRC), os.path.join(HERE, "harness")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def java_cmd(archive_flag, main_args):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must name a Spark distribution")
    # temporary files (native libraries Spark unpacks, session artifacts)
    # stay inside the checkout too
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", archive_flag, "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"]
            + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", JAR + os.pathsep + os.path.join(spark_home, "jars", "*"),
               "graft.perfbench.Main"] + main_args
            + ["--data", os.path.join(BUILD, "data"), "--work", os.path.join(BUILD, "work")])


def run_java(cmd, timeout, what):
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(BUILD, "work", "spark-local"))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL)
    try:
        rc = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"{what} did not finish within {timeout}s")
    if rc != 0:
        fail(f"{what} exited with code {rc}")


def build():
    """Compile the harness and prepare its inputs once per source state;
    a stamp records it."""
    digest = hashlib.sha256()
    for f in sources():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(BUILD, "harness.stamp")
    want = digest.hexdigest()
    deadline = time.time() + BUILD_TIMEOUT_S
    if (os.path.exists(JAR) and os.path.exists(CDS) and os.path.exists(stamp)
            and open(stamp).read() == want):
        return
    if os.path.exists(stamp):
        os.remove(stamp)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    if shutil.which("sbt") is None:
        fail("sbt is needed to build the harness")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
                                env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=deadline - time.time()).returncode
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_TIMEOUT_S}s (log: {log})")
    if rc != 0:
        fail(f"build failed (log: {log})")
    # a jar, because the JVM archives classes from jars only
    with zipfile.ZipFile(JAR + ".tmp", "w") as jar:
        for d, _, names in os.walk(CLASSES):
            for n in names:
                path = os.path.join(d, n)
                jar.write(path, os.path.relpath(path, CLASSES))
    os.replace(JAR + ".tmp", JAR)
    # the archive, the cached reference models and the base store written
    # through graft all belong to the old classes
    for stale in glob.glob(CDS) + glob.glob(os.path.join(BUILD, "data", "models-*.bin")):
        os.remove(stale)
    for stale in glob.glob(os.path.join(BUILD, "data", "ingest_base_*")):
        shutil.rmtree(stale)
    # one untimed JVM writes the inputs and models and, at its exit, the
    # class archive every run then starts from
    run_java(java_cmd(f"-XX:ArchiveClassesAtExit={CDS}", ["--prepare", "1"]),
             max(1.0, deadline - time.time()), "input preparation")
    if not os.path.exists(CDS):
        fail("input preparation wrote no class archive")
    with open(stamp, "w") as fh:
        fh.write(want)


def run_harness(args, report):
    run_java(java_cmd(f"-XX:SharedArchiveFile={CDS}",
                      ["--workload", args.workload, "--seed", str(args.seed),
                       "--seconds", str(args.seconds), "--trace", str(args.trace),
                       "--out", report]),
             RUN_TIMEOUT_S, "harness")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("run from the root of a checkout (BENCHMARK.json not found)")
    if not os.path.isdir(ENGINE_SRC):
        fail(f"graft's engine sources are missing ({os.path.relpath(ENGINE_SRC, ROOT)})")
    with open(spec_path) as fh:
        spec = json.load(fh)
    os.makedirs(BUILD, exist_ok=True)

    t0 = time.time()
    build()
    print(f"build: {time.time() - t0:.1f}s", file=sys.stderr)
    report_path = os.path.join(BUILD, f"report-{args.workload}-{args.seed}-{args.trace}.json")
    if os.path.exists(report_path):
        os.remove(report_path)
    run_harness(args, report_path)
    with open(report_path) as fh:
        report = json.load(fh)

    e2e = report["end_to_end"]
    print(f"workload {report['workload']} seed {report['seed']} clients {report['clients']} "
          f"cpus {report['cpus']} ops_digest {report['ops_digest']}")
    for name in sorted(e2e):
        m = e2e[name]
        extra = f" (p{m['percentile']})" if "percentile" in m else ""
        print(f"  {name:28s} {m['value']:14.4f} {m['unit']:6s} n={m['n']}{extra}")
    for name, n in sorted(report["tails_without_samples"].items()):
        print(f"  {name:28s} {'n/a':>14s} {'ms':6s} n={n} (no percentile from p75 up has"
              f" 10 samples beyond it)")
    for kind, f in sorted(report["failures"].items()):
        print(f"  FAILED {kind}: {f['count']} (first: {f['first']})")
    if args.trace:
        for name, m in sorted(report["per_layer"].items()):
            print(f"  {name:40s} {m['value']:16.4f} {m['unit']}")
        for layer, ms in sorted(report["self_ms_per_op"].items()):
            print(f"  self_ms_per_op.{layer:24s} {ms:12.4f}")
        o = report["tracing_overhead"]
        print(f"  tracing overhead: {o['untraced_ops_per_s']:.3f} ops/s untraced, "
              f"{o['traced_ops_per_s']:.3f} traced (x{o['ratio']:.3f}); latency of the same "
              f"op kinds x{o['latency_ratio']:.3f}")

    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = report["per_layer"] if args.trace else e2e
    metrics = {}
    for m in declared:
        if m["name"] not in source:
            fail(f"metric {m['name']} was not measured on {args.workload}")
        metrics[m["name"]] = {"value": source[m["name"]]["value"], "unit": m["unit"]}
    failed = report["failed"] + report.get("traced_failed", 0)
    attempted = report["attempted"] + report.get("traced_attempted", 0)
    print(json.dumps({"correct": failed == 0, "attempted": max(1, attempted),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
