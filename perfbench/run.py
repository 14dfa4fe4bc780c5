#!/usr/bin/env python3
"""On-host benchmark of the shipped graft paths.

    python3 perfbench/run.py --workload crawl_full --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles the program sources
(src/main/scala) together with the benchmark sources (perfbench/src) with
the Scala compiler that ships in $SPARK_HOME/jars, into .bench_build/; later
runs reuse the build while the sources are unchanged. The run itself is one
JVM on local[<cores>]; its last stdout line is the JSON result.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(BUILD, "classes")
WORKLOADS = ("crawl_full", "crawl_increment", "record_match", "ann_search")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (the same list the
# sbt build forks tests with).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(1)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else None
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar"))) if home else []
    if not jars:
        fail("no Spark jars found (set SPARK_HOME)")
    if not any(os.path.basename(j).startswith("scala-compiler") for j in jars):
        fail("no scala-compiler jar next to the Spark jars")
    return jars


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not prog:
        fail("program sources (src/main/scala) not found; run from a full checkout")
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return prog + bench


def build():
    """Compile program + benchmark sources once per source content."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    key = h.hexdigest()
    key_file = os.path.join(BUILD, "key")
    if os.path.isdir(CLASSES) and os.path.exists(key_file):
        with open(key_file) as f:
            if f.read().strip() == key:
                return jars
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    t0 = time.time()
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", os.pathsep.join(jars), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", os.pathsep.join(jars), "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        fail("build failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(key_file, "w") as f:
        f.write(key + "\n")
    print("perfbench: built in %.1f s" % (time.time() - t0), file=sys.stderr)
    return jars


def java_cmd(jars, work, main_args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    return (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-Xss16m"] + opens + [
        "-Djava.io.tmpdir=" + tmp,
        "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(work, "spark-warehouse"),
        "-Dderby.system.home=" + os.path.join(work, "derby"),
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", os.pathsep.join([CLASSES] + jars),
        "graft.perfbench.Main"] + main_args)


def run_java(cmd, work, timeout):
    """Run the JVM, stream its stdout, keep its stderr in a log; kill it
    and wait for it on timeout or interrupt."""
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, cwd=work)
        pump = threading.Thread(target=lambda: [sys.stdout.write(l) for l in p.stdout],
                                daemon=True)
        pump.start()
        try:
            p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            print("perfbench: run exceeded %d s, killed" % timeout, file=sys.stderr)
        finally:
            if p.poll() is None:
                p.kill()
            p.wait()
            pump.join(timeout=5)
    return p.returncode, log_path


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    jars = build()
    run_dir = os.path.join(ROOT, ".bench_build", "runs", "%s-%d" % (a.workload, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    result = os.path.join(run_dir, "result.json")
    traces = os.path.join(ROOT, ".bench_build", "traces")
    os.makedirs(traces, exist_ok=True)
    cmd = java_cmd(jars, run_dir, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", os.path.join(run_dir, "w"), "--out", result,
        "--trace-dir", traces])
    code, log_path = run_java(cmd, run_dir, RUN_TIMEOUT_S)
    if code != 0 or not os.path.exists(result):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        shutil.rmtree(run_dir, ignore_errors=True)
        fail("benchmark JVM exited with code %s" % code)
    with open(result) as f:
        line = json.dumps(json.load(f))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(line)


if __name__ == "__main__":
    main()
