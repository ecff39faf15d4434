#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as the last line.

Usage (from the repository root):
  python3 perfbench/run.py --workload {curate,serve,ingest} --seed N \
      --seconds S --trace {0,1}

Builds graft and the benchmark if needed (perfbench/build.py), then runs the
workload in a fresh JVM on local[4] with a run-private work directory under
.bench_build/perfbench/runs/, removed at exit. Generated inputs are cached
under .bench_build/perfbench/inputs/, keyed by seed and size; traced runs
write their spans to .bench_build/perfbench/traces/. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("curate", "serve", "ingest")
RUN_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def jvm(classes, work, args, timeout):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"), "graftbench.Main"] + args
    # keep Spark's scratch space inside the work directory
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    env["TMPDIR"] = os.path.join(work, "tmp")
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, env=env)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"run: the JVM did not finish within {timeout} s")
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default=0, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds <= 0:
        ap.error("--seconds must be positive")
    classes = build.build()
    base = os.path.abspath(build.BUILD)
    work = os.path.join(base, "runs", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        code, out = jvm(classes, work, [a.workload, str(a.seed), str(a.seconds), str(a.trace), work,
                                        os.path.join(base, "inputs")], RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    info = [l for l in lines if l.startswith('{"info"')]
    result = [l for l in lines if l.startswith('{"correct"')]
    for l in lines:
        if l not in info and l not in result:
            print(l, file=sys.stderr)
    if code != 0 or not result:
        raise SystemExit(f"run: the JVM exited with code {code} and no result")
    json.loads(result[-1])
    for l in info:
        print(l)
    print(result[-1])


if __name__ == "__main__":
    main()
