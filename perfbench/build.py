#!/usr/bin/env python3
"""Compile graft (src/main/scala) and the benchmark (perfbench/src) with the
Scala compiler shipped in Spark's jars. Output goes to
.bench_build/perfbench/classes-<hash of every source>, so a checkout builds
once and rebuilds only when a source changes.

Usage: python3 perfbench/build.py   (from the repository root)
Prints the classes directory on success.
"""
import hashlib
import os
import shutil
import subprocess
import sys

BUILD = os.path.join(".bench_build", "perfbench")
SOURCE_DIRS = [os.path.join("src", "main", "scala"), os.path.join("perfbench", "src", "main", "scala")]


def spark_jars():
    return os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"build: missing source directory {d}; run from a full checkout")
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode() + b"\0")
        with open(s, "rb") as f:
            h.update(f.read() + b"\0")
    classes = os.path.abspath(os.path.join(BUILD, "classes-" + h.hexdigest()[:16]))
    if os.path.isfile(os.path.join(classes, "_DONE")):
        return classes
    os.makedirs(BUILD, exist_ok=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", cp, "@" + argfile]
    try:
        res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    except subprocess.TimeoutExpired:
        raise SystemExit("build: scalac timed out")
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"build: scalac failed with code {res.returncode}")
    os.remove(argfile)
    open(os.path.join(tmp, "_DONE"), "w").close()
    # older builds of this checkout are dead weight
    for old in os.listdir(BUILD):
        path = os.path.abspath(os.path.join(BUILD, old))
        if old.startswith("classes-") and path != tmp:
            shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    print(build())
