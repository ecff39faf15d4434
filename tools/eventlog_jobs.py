#!/usr/bin/env python3
"""Print the Spark jobs of an event log, one row each, and the driver's busy time.

Usage: python3 tools/eventlog_jobs.py EVENT_LOG [--from S] [--to S]

EVENT_LOG is a Spark event log file, plain JSON lines or zstd-compressed
(a `.zstd`/`.zst` name; read with the `zstandard` module when installed,
else the `zstd` command). A rolling event-log directory is read file by
file in name order.

One row per job, in start order:

  job  start_s  dur_ms  tasks  exec_ms  call_site

  start_s   seconds since the application started
  dur_ms    job end minus job start
  tasks     tasks that ended in the job's stages (skipped stages have none)
  exec_ms   sum of the tasks' executor run time
  call_site the first `graft.` frame of the job's call site: the first
            stage's long call site, else that of the SQL execution that ran
            the job (adaptive execution submits its stages from a thread
            pool, whose stack names no caller). A frame of the write seam
            (`graft.sources.`) is followed by its first caller outside it.
            Without a graft frame, the first frame outside Spark and Scala.

Then the window summary: over [--from, --to] seconds since application
start (default: first job start to last job end), `busy_ms` is the time at
least one job was running and `idle_ms` the rest — driver-side work
(planning, listing, footers, commits) or waiting.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys


def open_lines(path):
    """Yield the text lines of one event-log file, decompressing zstd."""
    if path.endswith((".zstd", ".zst")):
        try:
            import zstandard
            with open(path, "rb") as f:
                data = zstandard.ZstdDecompressor().stream_reader(f).read()
        except ImportError:
            if not shutil.which("zstd"):
                sys.exit("eventlog_jobs: a .zstd log needs the zstandard module or the zstd command")
            data = subprocess.run(["zstd", "-dc", path], check=True, capture_output=True).stdout
        yield from data.decode("utf-8").splitlines()
    else:
        with open(path, encoding="utf-8") as f:
            yield from f


def events(path):
    files = [path]
    if os.path.isdir(path):
        files = sorted(os.path.join(path, n) for n in os.listdir(path)
                       if n.startswith("events_") or n.startswith("eventlog"))
    for p in files:
        for line in open_lines(p):
            line = line.strip()
            if line:
                yield json.loads(line)


def frames(details):
    return [l.strip() for l in (details or "").splitlines() if l.strip()]


def graft_frame(details):
    fs = frames(details)
    first = next((i for i, f in enumerate(fs) if f.startswith("graft.")), None)
    if first is None:
        return None
    site = fs[first]
    if site.startswith("graft.sources."):
        caller = next((f for f in fs[first:] if f.startswith("graft.")
                       and not f.startswith("graft.sources.")), None)
        if caller:
            site += " < " + caller
    return site


def own_frame(details):
    return next((f for f in frames(details)
                 if not f.startswith(("org.apache.spark.", "scala.", "java."))), None)


def read(path):
    app_start = None
    jobs = {}          # job id -> dict
    stage_job = {}     # stage id -> job id (the first job that listed it)
    sql_site = {}      # SQL execution id -> its call site
    for e in events(path):
        kind = e.get("Event")
        if kind == "SparkListenerApplicationStart":
            app_start = e["Timestamp"]
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            d = e.get("details")
            sql_site[e["executionId"]] = graft_frame(d) or own_frame(d)
        elif kind == "SparkListenerJobStart":
            infos = sorted(e.get("Stage Infos", []), key=lambda s: s["Stage ID"])
            details = infos[0].get("Details") if infos else ""
            props = e.get("Properties") or {}
            exec_id = props.get("spark.sql.execution.root.id", props.get("spark.sql.execution.id"))
            site = (graft_frame(details)
                    or (sql_site.get(int(exec_id)) if exec_id is not None else None)
                    or (frames(details) or ["?"])[0])
            job = {"id": e["Job ID"], "start": e["Submission Time"], "end": None,
                   "tasks": 0, "exec_ms": 0, "site": site}
            jobs[job["id"]] = job
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, job["id"])
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(e["Stage ID"])
            if jid is not None:
                jobs[jid]["tasks"] += 1
                jobs[jid]["exec_ms"] += (e.get("Task Metrics") or {}).get("Executor Run Time", 0)
    return app_start, sorted(jobs.values(), key=lambda j: (j["start"], j["id"]))


def busy_ms(intervals, lo, hi):
    """Length of the union of [a, b) intervals clipped to [lo, hi)."""
    total, cur_a, cur_b = 0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("eventlog")
    ap.add_argument("--from", dest="lo", type=float, help="window start, s since app start")
    ap.add_argument("--to", dest="hi", type=float, help="window end, s since app start")
    a = ap.parse_args()
    app_start, jobs = read(a.eventlog)
    if not jobs:
        sys.exit("eventlog_jobs: no jobs in the log")
    t0 = app_start if app_start is not None else jobs[0]["start"]
    print(f"{'job':>5} {'start_s':>9} {'dur_ms':>7} {'tasks':>6} {'exec_ms':>8}  call_site")
    for j in jobs:
        dur = "-" if j["end"] is None else str(j["end"] - j["start"])
        print(f"{j['id']:>5} {(j['start'] - t0) / 1000:>9.3f} {dur:>7} {j['tasks']:>6} "
              f"{j['exec_ms']:>8}  {j['site']}")
    ends = [j["end"] for j in jobs if j["end"] is not None]
    lo = t0 + a.lo * 1000 if a.lo is not None else jobs[0]["start"]
    hi = t0 + a.hi * 1000 if a.hi is not None else max(ends or [jobs[-1]["start"]])
    inside = [j for j in jobs if j["end"] is not None and j["end"] > lo and j["start"] < hi]
    busy = busy_ms([(j["start"], j["end"]) for j in inside], lo, hi)
    window = max(0, hi - lo)
    pct = 100.0 * busy / window if window else 0.0
    print(f"window {(lo - t0) / 1000:.3f}-{(hi - t0) / 1000:.3f} s: {len(inside)} jobs, "
          f"window_ms={window:.0f} busy_ms={busy:.0f} idle_ms={window - busy:.0f} busy={pct:.1f}%")


if __name__ == "__main__":
    main()
