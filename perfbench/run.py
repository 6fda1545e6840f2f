#!/usr/bin/env python3
"""Runs one workload of the benchmark and prints its result line.

    python3 perfbench/run.py --workload ark_refresh --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. The first run compiles the program
(src/main/scala) and the benchmark (perfbench/src) with the Scala
compiler that ships in Spark's jars (SPARK_HOME); later runs reuse the
classes until a source changes. Everything the benchmark writes stays
under .bench_build (or CARGO_TARGET_DIR when set).
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 880

# Spark 4 on JDK 17 outside spark-submit needs these (the same list the
# program's own build passes to its forked JVMs).
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
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("SPARK_HOME must point at a Spark installation with a jars/ directory")
    return os.path.join(home, "jars", "*")


def sources():
    out = []
    for top in (PROGRAM_SRC, BENCH_SRC):
        if not os.path.isdir(top):
            fail(f"missing source tree {os.path.relpath(top, ROOT)}")
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compiles program and benchmark into BUILD/classes unless the
    sources are unchanged since the last build."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256(jars.encode())
    for f in srcs:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, "classes.sha256")
    classes = os.path.join(BUILD, "classes")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", jars, "@" + argfile]
    print("perfbench: compiling", len(srcs), "sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        fail("compilation failed")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return classes


def java_cmd(classes, main, args):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-Xmx3g", "-XX:+UseG1GC", *opens,
             f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.local.dir={os.path.join(tmp, 'spark')}",
             f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
             "-Dspark.ui.enabled=false",
             "-cp", os.pathsep.join([classes, spark_jars()]), main, *args])


def run_jvm(cmd):
    p = subprocess.Popen(cmd, cwd=BUILD)
    try:
        return p.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    os.makedirs(BUILD, exist_ok=True)
    classes = build()
    trees = ["--src", os.path.join(PROGRAM_SRC, "graft"), "--bench-src", BENCH_SRC]
    if a.selftest:
        work = os.path.join(BUILD, "work", f"selftest-{os.getpid()}")
        code = run_jvm(java_cmd(classes, "perfbench.SelfTest", [
            *trees, "--work", work,
            "--benchmark-json", os.path.join(ROOT, "BENCHMARK.json")]))
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(code)
    if not a.workload:
        fail("--workload is required")
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    code = run_jvm(java_cmd(classes, "perfbench.Runner", [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", work, *trees]))
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
