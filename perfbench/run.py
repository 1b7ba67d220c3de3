#!/usr/bin/env python3
"""Benchmark entry point for the graft engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine (through the repository's own sbt build) and the
harness from source on first use (the build is reused while the sources
are unchanged) and archives the classes a short Spark session loads, then
runs one workload in a fresh JVM. The last line of standard output is the
result object {"correct", "attempted", "failed", "metrics"}. Staging goes under a
run-scoped directory in .bench_run/ that is deleted on exit; span dumps
of traced runs land in .bench_out/.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, "target")
CP_FILE = os.path.join(BUILD_DIR, "perfbench.classpath")
STAMP_FILE = os.path.join(BUILD_DIR, "perfbench.stamp")
CDS_FILE = os.path.join(BUILD_DIR, "perfbench.jsa")
WORKLOADS = ("fia_maintain", "corpus_maintain", "fia_maintain_full")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 720
WARMUP_TIMEOUT_S = 120

# Spark on JDK 17 needs these outside spark-submit (same list as the
# repository's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm(classpath, run_dir, extra=()):
    """The java command line every JVM of the benchmark shares."""
    return ["java"] + [x for p in ADD_OPENS
                       for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
        # JVM warnings go to stderr: stdout ends with the result line
        "-Xlog:disable", "-Xlog:all=warning:stderr",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={run_dir}", *extra, "-cp", classpath]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build: engine sources, the repository's
    build that compiles them, and the harness."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    engine = os.path.join(ROOT, "src", "main", "scala", "graft")
    if not os.path.isdir(engine):
        fail("engine sources (src/main/scala/graft) not found next to "
             "perfbench/ — run from the repository root")
    stamp = source_stamp()
    if os.path.exists(STAMP_FILE) and os.path.exists(CP_FILE):
        with open(STAMP_FILE) as f:
            if f.read().strip() == stamp:
                return
    tmp = os.path.join(BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" +
                   os.path.expanduser("~/.sbt/repositories") +
                   f" -Dsbt.offline=true -Xmx2g -XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    try:
        out = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                             stderr=subprocess.STDOUT, text=True,
                             timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        fail("build failed")
    # class directories go into jars: the class-data archive below takes
    # jars only
    jars = os.path.join(BUILD_DIR, "jars")
    shutil.rmtree(jars, ignore_errors=True)
    os.makedirs(jars)
    classpath = []
    for i, entry in enumerate(lines[-1].strip().split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(jars, f"classes{i}.jar")
            with zipfile.ZipFile(jar, "w") as z:
                for d, _, fs in os.walk(entry):
                    for name in sorted(fs):
                        p = os.path.join(d, name)
                        z.write(p, os.path.relpath(p, entry))
            entry = jar
        classpath.append(entry)
    classpath = os.pathsep.join(classpath)
    with open(CP_FILE, "w") as f:
        f.write(classpath)
    # Archive the classes a short Spark session loads (JDK class-data
    # sharing): every run then starts its session about 3 s sooner. A run
    # without the archive works the same, only slower to start.
    if os.path.exists(CDS_FILE):
        os.remove(CDS_FILE)
    warm = os.path.join(tmp, "warmup")
    try:
        subprocess.run(jvm(classpath, tmp, [f"-XX:ArchiveClassesAtExit={CDS_FILE}"]) +
                       ["graft.perfbench.Warmup", warm], cwd=ROOT,
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                       timeout=WARMUP_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        pass
    shutil.rmtree(warm, ignore_errors=True)
    with open(STAMP_FILE, "w") as f:
        f.write(stamp)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build()
    with open(CP_FILE) as f:
        classpath = f.read().strip()

    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}-{int(time.time())}"
    run_root = os.path.join(ROOT, ".bench_run", run_id)
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(run_root)
    os.makedirs(out_dir, exist_ok=True)
    cds = [f"-XX:SharedArchiveFile={CDS_FILE}"] if os.path.exists(CDS_FILE) else []
    cmd = jvm(classpath, run_root, cds) + [
        "graft.perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--root", run_root, "--out", out_dir, "--run-id", run_id,
    ]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(run_root, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S}s")
    shutil.rmtree(run_root, ignore_errors=True)
    lines = stdout.strip().splitlines()
    if proc.returncode not in (0, 1) or not lines or \
            not lines[-1].startswith("{\"correct\""):
        sys.stdout.write(stdout)
        fail(f"run failed (exit {proc.returncode})")
    sys.stdout.write(stdout if stdout.endswith("\n") else stdout + "\n")
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
