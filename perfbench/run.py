#!/usr/bin/env python3
"""graft's benchmark: build the harness, run one workload, print the result.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The first run compiles graft's
sources together with the harness under perfbench/, with the Scala
compiler of the Spark install ($SPARK_HOME, the Spark on PATH, or an
installed pyspark); later runs reuse the build until a source file
changes. The workload runs in one JVM (Spark local[<cores>]); its report
lines are echoed, and the last line printed is the JSON result, whose
metrics are the end-to-end metrics of BENCHMARK.json (--trace 0) or its
per-layer ones (--trace 1).
Exits 1 if any output was wrong or any op failed, 2 if the harness
cannot run here.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
JAVA_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main")]
    files = [os.path.abspath(__file__)]
    for r in roots:
        if not os.path.isdir(r):
            fail(f"missing source directory {os.path.relpath(r, ROOT)}")
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} timed out after {timeout}s", 1)
    return p.returncode, out


def spark_jars():
    """The jar directory of the Spark install the harness compiles and runs
    against: $SPARK_HOME, else the Spark whose launcher is on PATH, else
    the jars bundled with an installed pyspark."""
    homes = []
    if os.environ.get("SPARK_HOME"):
        homes.append(os.environ["SPARK_HOME"])
    for launcher in ("spark-submit", "spark-shell"):
        found = shutil.which(launcher)
        if found:
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(found))))
    spec = importlib.util.find_spec("pyspark")
    if spec and spec.origin:
        homes.append(os.path.dirname(spec.origin))
    for home in homes:
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")) and \
                glob.glob(os.path.join(jars, "spark-core_*.jar")):
            return jars
    fail("no Spark install found (set SPARK_HOME)")


def java():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    found = shutil.which("java")
    if not found:
        fail("no java found (set JAVA_HOME)")
    return found


def classpath(jars):
    """Compile (when sources changed) and return the runtime classpath.

    graft's sources and the harness are compiled together by the Scala
    compiler that ships with Spark, so the build needs nothing but the
    Spark install and writes only under perfbench/target."""
    fp = fingerprint()
    classes = os.path.join(TARGET, "classes")
    stamp = os.path.join(TARGET, "classes.fingerprint")
    cp = classes + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(stamp) and os.path.isdir(classes):
        with open(stamp) as fh:
            if fh.read().strip() == fp:
                return cp
    building = os.path.join(TARGET, "classes.building")
    shutil.rmtree(building, ignore_errors=True)
    os.makedirs(building)
    srcs = os.path.join(TARGET, "sources.txt")
    with open(srcs, "w") as fh:
        fh.writelines(os.path.relpath(f, HERE) + "\n"
                      for f in source_files() if f.endswith(".scala"))
    code, _ = run_bounded(
        [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-nowarn", "-d", building,
         "-classpath", os.path.join(jars, "*"), "@" + srcs],
        BUILD_TIMEOUT_S, cwd=HERE, stdout=sys.stderr, stderr=sys.stderr)
    if code != 0:
        fail("build failed", 2)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(building, classes)
    with open(stamp, "w") as fh:
        fh.write(fp)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    jars = spark_jars()
    cp = classpath(jars)

    work = os.path.join(TARGET, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ([java()] + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", os.path.join(HERE, "data"), "--work", work])
    # Spark binds to loopback only, without resolving the host name
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    try:
        code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=work, env=env, stdout=subprocess.PIPE,
                                stderr=sys.stderr, text=True)
        if a.trace == 1 and os.path.exists(os.path.join(work, "spans.jsonl")):
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(TARGET, f"spans-{a.workload}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics, attempted, failed = {}, None, None
    for line in out.splitlines():
        print(line)
        parts = line.split()
        if parts[:1] == ["metric"] and len(parts) == 4:
            metrics[parts[1]] = (float(parts[2]), parts[3])
        elif parts[:1] == ["result"]:
            kv = dict(p.split("=", 1) for p in parts[1:])
            attempted, failed = int(kv["attempted"]), int(kv["failed"])
    if attempted is None:
        fail(f"workload {a.workload} ended without a result (exit {code})", 1)

    chosen = {}
    for m in spec["per_layer" if a.trace else "end_to_end"]:
        if m["name"] in metrics:
            chosen[m["name"]] = {"value": metrics[m["name"]][0], "unit": m["unit"]}
        elif a.trace:
            # a layer this workload does not exercise
            chosen[m["name"]] = {"value": 0.0, "unit": m["unit"]}
        else:
            fail(f"workload {a.workload} did not report {m['name']}", 1)
    correct = code == 0 and failed == 0
    print(json.dumps({"correct": correct, "attempted": max(1, attempted),
                      "failed": failed, "metrics": chosen}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
