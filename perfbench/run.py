#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of the two product jobs.

    python3 perfbench/run.py --workload train|pipeline --seed N \\
        --seconds S --trace 0|1

Run from the repository root. The first run compiles the repository's main
sources together with perfbench/src into the build directory
($CARGO_TARGET_DIR, default .bench_build) with the Scala compiler shipped
among the Spark jars; later runs reuse that build while the sources are
unchanged. The Spark jars are those of $SPARK_HOME, or else the
`unmanagedBase` directory the root build.sbt names. Like the apps' own
mains, the session's master is $SPARK_MASTER, default local[4].

The last line of standard output is one JSON object: `correct`,
`attempted`, `failed` and `metrics` (the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`). Everything else goes
to standard error. A traced run also writes its spans, jobs, streaming
progress and sink writes to <build>/traces/<workload>-<seed>.json.
"""

import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402

WORKLOADS = ("train", "pipeline")
# the JVM flags the root build passes to forked runs (build.sbt), which
# Spark needs on JDK 17 outside spark-submit
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
RUN_TIMEOUT_S = 175


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home:
        return os.path.join(home, "jars")
    build = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(build):
        fail("no build.sbt at the repository root: run from a checkout of the repository")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(build).read())
    if not m:
        fail("build.sbt names no unmanagedBase and SPARK_HOME is unset")
    return m.group(1)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        fail("no src/main/scala sources: run from a checkout of the repository")
    return main + sorted(glob.glob(os.path.join(HERE, "src/*.scala")))


def steal_seconds():
    """CPU time the hypervisor gave to other guests, summed over this VM's
    CPUs (the `steal` column of /proc/stat), or None where unavailable. A
    run whose steal is high ran on a contended host."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def java_cmd(jars, classpath, work, *args):
    return (["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={work}/tmp",
             "-Dlog4j.configurationFile=" + os.path.join(HERE, "log4j2.properties")] +
            list(args) + ADD_OPENS + ["-cp", classpath + ":" + os.path.join(jars, "*")])


def build(build_dir, jars):
    """Compile once per distinct set of sources into <build>/<digest>/perfbench.jar,
    then record a class-data archive of what the workloads load, which cuts
    the JVM's start-up. Returns (jar, archive or None)."""
    srcs = sources()
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(path.encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    out = os.path.join(build_dir, "build-" + digest.hexdigest()[:16])
    jar = os.path.join(out, "perfbench.jar")
    archive = os.path.join(out, "classes.jsa")
    ready = os.path.join(out, "ready")
    if os.path.isfile(ready):
        return jar, archive if os.path.isfile(archive) else None
    scala = [glob.glob(os.path.join(jars, f"scala-{j}-*.jar"))
             for j in ("compiler", "library", "reflect")]
    if not all(scala):
        fail(f"no Scala compiler among the jars in {jars}")
    for old in glob.glob(os.path.join(build_dir, "build-*")):
        shutil.rmtree(old, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", ":".join(s[0] for s in scala),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp:false",
           "-classpath", os.path.join(jars, "*"), "-d", classes] + srcs
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        fail("compilation failed")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for base, _, files in os.walk(classes):
            for name in files:
                path = os.path.join(base, name)
                z.write(path, os.path.relpath(path, classes))
    shutil.rmtree(classes)
    work = os.path.join(out, "prime")
    os.makedirs(os.path.join(work, "tmp"))
    print("perfbench: recording the class-data archive", file=sys.stderr)
    try:
        code = subprocess.run(
            java_cmd(jars, jar, work, f"-XX:ArchiveClassesAtExit={archive}") +
            ["perfbench.Bench", "--prime", work], cwd=work, stdout=sys.stderr,
            timeout=RUN_TIMEOUT_S).returncode
    except subprocess.TimeoutExpired:
        code = None
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 and os.path.isfile(archive):
        os.remove(archive)
    if not os.path.isfile(archive):
        print("perfbench: no class-data archive; runs start without one", file=sys.stderr)
    open(ready, "w").close()
    return jar, archive if os.path.isfile(archive) else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    jars = spark_jars()
    if not os.path.isdir(jars):
        fail(f"no Spark jars at {jars}")
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    jar, archive = build(build_dir, jars)

    work = os.path.join(build_dir, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    record_path = os.path.join(work, "record.json")
    cmd = java_cmd(jars, jar, work, *([f"-XX:SharedArchiveFile={archive}"] if archive else []))
    cmd += ["perfbench.Bench", args.workload, str(args.seed), str(args.seconds),
            str(args.trace), work, record_path]
    steal0 = steal_seconds()
    try:
        # the program's own stdout (Train's sample rows, its result line)
        # goes to stderr, so that the result is our last stdout line
        proc = subprocess.run(cmd, cwd=work, stdout=sys.stderr, timeout=RUN_TIMEOUT_S)
        code = proc.returncode
    except subprocess.TimeoutExpired:
        code = None
    steal1 = steal_seconds()
    record = None
    if code == 0 and os.path.isfile(record_path):
        with open(record_path) as f:
            record = json.load(f)
    if record and args.trace:
        traces = os.path.join(build_dir, "traces")
        os.makedirs(traces, exist_ok=True)
        with open(os.path.join(traces, f"{args.workload}-{args.seed}.json"), "w") as f:
            json.dump(record["traced"], f)
    shutil.rmtree(work, ignore_errors=True)
    if record is None:
        fail("the benchmark JVM " +
             ("timed out" if code is None else f"exited with code {code}"))

    for failure in record["failures"]:
        print(f"perfbench: check failed: {failure}", file=sys.stderr)
    found = metrics.per_layer(record) if args.trace else metrics.end_to_end(record)
    if found is None:
        fail("every operation failed: " + "; ".join(
            o["error"] for o in record["ops"] if o["error"]))
    failed = len(record["failed_ops"])
    print(f"perfbench: {args.workload} seed {args.seed}: {len(record['ops'])} ops, "
          f"{failed} failed, {record['checks']} checks, "
          f"{record['total_ms'] / 1000:.1f} s in the JVM; set-up: session "
          f"{record['session_ms'] / 1000:.1f} s, prepare "
          f"{record['prepare_ms'] / 1000:.1f} s, warm-up "
          f"{record['warm_up_ms'] / 1000:.1f} s; ops "
          + ", ".join("%s %.1f" % (o["kind"], (o["end"] - o["start"]) / 1000)
                      for o in record["ops"]) + " s" +
          ("" if steal0 is None or steal1 is None else
           f"; host steal {steal1 - steal0:.1f} CPU-s"),
          file=sys.stderr)
    print(json.dumps({
        "correct": not record["failures"] and failed == 0,
        "attempted": len(record["ops"]),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(found.items())},
    }))


if __name__ == "__main__":
    main()
