#!/usr/bin/env python3
"""Turn a Spark event log into a per-job list.

Usage:

    python3 dev/joblog.py EVENT_LOG [--window START END]

EVENT_LOG is one application's event log: a file, plain or
zstd-compressed (`<app id>.zstd`), or a rolling log directory
(`eventlog_v2_<app id>/`, its `events_<n>_*` files read in order), as
Spark 4 writes by default. A compressed file is read through the `zstd`
command-line tool, which must be on PATH for it.

One line per job, in submission order:

    job  start_s  gap_s  dur_s  sql  site

- start_s: submission time, seconds after the application started;
- gap_s: seconds since the previous job (by submission) ended;
  negative where the two overlap;
- dur_s: submission to completion;
- sql: the SQL execution id the job ran under, `-` for none;
- site: the first `graft.` frame of the job's stage details, else of
  its SQL execution's call site, else Spark's short call site.

With `--window START END` (seconds, on the start_s axis) it also sums
executor deserialize, run and GC time of the tasks launched in that
window, and counts them and the jobs submitted in it.

Recipe: record a benchmark run's event log without editing the
benchmark, then list it:

    mkdir -p /tmp/ev
    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=file:///tmp/ev" \\
        python3 perfbench/run.py --workload fia_maintain --seed 7 --seconds 1 --trace 0
    python3 dev/joblog.py /tmp/ev/eventlog_v2_local-*
"""
import argparse
import io
import json
import os
import re
import shutil
import subprocess
import sys

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"


def log_files(path):
    """The file, or a rolling log directory's event files in order."""
    if not os.path.isdir(path):
        return [path]
    parts = [(int(m.group(1)), f) for f in os.listdir(path)
             for m in [re.match(r"events_(\d+)_", f)] if m]
    if not parts:
        sys.exit(f"joblog: no events_<n>_* file in {path}")
    return [os.path.join(path, f) for _, f in sorted(parts)]


def events(path):
    """The log's events, one dict per JSON line."""
    for f in log_files(path):
        yield from file_events(f)


def file_events(path):
    if path.endswith((".zstd", ".zst")):
        if shutil.which("zstd") is None:
            sys.exit(f"joblog: {path} is zstd-compressed and no zstd tool is on PATH")
        raw = subprocess.run(["zstd", "-dc", path], check=True,
                             stdout=subprocess.PIPE).stdout
        lines = io.TextIOWrapper(io.BytesIO(raw), encoding="utf-8")
    else:
        lines = open(path, encoding="utf-8")
    with lines:
        for line in lines:
            if line.strip():
                yield json.loads(line)


def graft_frame(text):
    """The first `graft.` frame of a multi-line call site, or None."""
    for line in (text or "").splitlines():
        line = line.strip()
        if line.startswith("at "):
            line = line[3:]
        if line.startswith("graft."):
            return line
    return None


def read(path):
    app_start, jobs, sql_sites, tasks = None, {}, {}, []
    for e in events(path):
        kind = e.get("Event")
        if kind == "SparkListenerApplicationStart":
            app_start = e["Timestamp"]
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            stages = e.get("Stage Infos") or []
            jobs[e["Job ID"]] = {
                "id": e["Job ID"],
                "start": e["Submission Time"],
                "end": None,
                "sql": props.get("spark.sql.execution.id"),
                "frame": next(filter(None, (graft_frame(s.get("Details"))
                                            for s in stages)), None),
                "short": props.get("callSite.short")
                or (stages[0].get("Stage Name") if stages else None),
            }
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == SQL_START:
            sql_sites[str(e["executionId"])] = graft_frame(e.get("details"))
        elif kind == "SparkListenerTaskEnd":
            info, m = e.get("Task Info") or {}, e.get("Task Metrics") or {}
            tasks.append((info.get("Launch Time"), m.get("Executor Deserialize Time", 0),
                          m.get("Executor Run Time", 0), m.get("JVM GC Time", 0)))
    ordered = sorted(jobs.values(), key=lambda j: (j["start"], j["id"]))
    if app_start is None:
        app_start = ordered[0]["start"] if ordered else 0
    return app_start, ordered, sql_sites, tasks


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("log")
    ap.add_argument("--window", nargs=2, type=float, metavar=("START", "END"))
    a = ap.parse_args()
    t0, jobs, sql_sites, tasks = read(a.log)

    def s(ms):
        return (ms - t0) / 1000.0

    print(f"{'job':>5} {'start_s':>8} {'gap_s':>7} {'dur_s':>7} {'sql':>5}  site")
    prev_end = None
    for j in jobs:
        gap = "-" if prev_end is None else f"{(j['start'] - prev_end) / 1000.0:7.3f}"
        dur = "-" if j["end"] is None else f"{(j['end'] - j['start']) / 1000.0:7.3f}"
        site = j["frame"] or sql_sites.get(j["sql"]) or j["short"] or "-"
        print(f"{j['id']:>5} {s(j['start']):8.3f} {gap:>7} {dur:>7} {j['sql'] or '-':>5}  {site}")
        if j["end"] is not None:
            prev_end = j["end"]
    print(f"# {len(jobs)} jobs")

    if a.window:
        lo, hi = a.window
        picked = [t for t in tasks if t[0] is not None and lo <= s(t[0]) < hi]
        n_jobs = sum(1 for j in jobs if lo <= s(j["start"]) < hi)
        deser, run, gc = (sum(t[i] for t in picked) / 1000.0 for i in (1, 2, 3))
        print(f"# window [{lo}, {hi}) s: {n_jobs} jobs, {len(picked)} tasks, "
              f"deserialize {deser:.3f} s, run {run:.3f} s, gc {gc:.3f} s")


if __name__ == "__main__":
    main()
