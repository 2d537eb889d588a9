#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the engine sources
(src/main/scala) together with the benchmark's own sources
(perfbench/src) with the Scala compiler that ships in Spark's jars.

Spark is found through SPARK_HOME, or else through spark-submit on the
PATH. Output goes to .bench_build/perfbench/<hash>/classes, keyed by a
hash of every source file, so an unchanged tree is not rebuilt. Prints
the run-time classpath (classes directory and Spark's jars) as its last
line.

    python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
OUT_BASE = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        sys.exit("build: Spark not found (set SPARK_HOME)")
    return jars


def sources():
    if not os.path.isdir(ENGINE_SRC):
        sys.exit(f"build: engine sources not found at {ENGINE_SRC}")
    found = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build():
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for path in srcs + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    key = h.hexdigest()[:16]
    out = os.path.join(OUT_BASE, key, "classes")
    classpath = out + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(os.path.join(out, ".complete")):
        return classpath
    os.makedirs(OUT_BASE, exist_ok=True)
    for old in os.listdir(OUT_BASE):
        shutil.rmtree(os.path.join(OUT_BASE, old), ignore_errors=True)
    tmp = os.path.join(OUT_BASE, key, "tmp-classes")
    os.makedirs(tmp)
    argfile = os.path.join(OUT_BASE, key, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(OUT_BASE, key), "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    print("build: compiling %d sources" % len(srcs), file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        sys.exit(f"build: scalac failed with code {r.returncode}")
    os.rename(tmp, out)
    open(os.path.join(out, ".complete"), "w").close()
    return classpath


if __name__ == "__main__":
    print(build())
