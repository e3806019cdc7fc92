#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library (src/main/scala) and the
benchmark's own Scala sources (perfbench/src) into one class directory.

Usage: python3 perfbench/build.py [out-dir]     (default .bench_build)

Runs the Scala compiler that ships with Spark (no sbt, no downloads) and
skips the compile when no source changed since the last one. Prints the
class directory. Needs SPARK_HOME (default /opt/spark) for the jars.
"""
import glob
import hashlib
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(ROOT, "perfbench", "src")]


def spark_jars():
    jars = sorted(glob.glob(os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars", "*.jar")))
    if not jars:
        sys.exit("perfbench: no Spark jars (set SPARK_HOME)")
    return jars


def sources():
    found = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            sys.exit(f"perfbench: missing source directory {os.path.relpath(d, ROOT)}")
        for base, _, files in os.walk(d):
            found += [os.path.join(base, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(found)


def build(out_dir):
    srcs = sources()
    jars = spark_jars()
    digest = hashlib.sha256()
    for p in srcs + jars:
        digest.update(p.encode())
        if p.endswith((".scala", ".java")):
            with open(p, "rb") as fh:
                digest.update(fh.read())
    stamp = digest.hexdigest()
    classes = os.path.join(out_dir, "classes")
    stamp_file = os.path.join(out_dir, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    subprocess.run(["rm", "-rf", tmp], check=True)
    os.makedirs(tmp)
    cp = os.pathsep.join(jars)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp] + srcs
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-20000:])
        sys.exit(f"perfbench: compile failed ({res.returncode})")
    subprocess.run(["rm", "-rf", classes], check=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


if __name__ == "__main__":
    print(build(os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build"))))
