#!/usr/bin/env python3
"""Benchmark of the crawler library: builds it from this checkout, runs one
workload in a fresh JVM pinned to the machine it runs on, checks its outputs and prints
every metric. The last line of standard output is one JSON object:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer ones (--trace 1).

  python3 perfbench/run.py --workload crawl_rounds --seed 1 --seconds 20 --trace 0

Workloads, metrics and the layer map are described in perfbench/README.md.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("crawl_rounds", "query_sweep")
DATA = os.path.join(HERE, "data", "sf0.001")
GOLDENS = os.path.join(HERE, "goldens", "query_sweep_sf0.001.tsv")
# Every run must end within 180 s; the JVM gets what is left of that.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840

# Spark 4 on JDK 17 outside spark-submit needs these opens (the list of
# org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return f.read().strip()
    except OSError:
        return "unavailable"


def mem_total_mb():
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // 1024
    except OSError:
        pass
    return 4096


def source_hash():
    """Hash of everything the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".sbt", ".properties", ".java"))
                      or "META-INF" in d]
    for p in sorted(files):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def run_bounded(cmd, log_path, limit_s, **kw):
    """Runs cmd in its own process group with output to log_path; kills the
    whole group if it outlives limit_s. Returns the exit code."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True, **kw)
        try:
            return p.wait(timeout=max(1.0, limit_s))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def build(deadline):
    """sbt build of the library and the harness, once per source state;
    returns the runtime classpath."""
    key = source_hash()
    cp_file = os.path.join(BUILD, f"classpath-{key}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    sbt_home = os.path.join(BUILD, "sbt")
    os.makedirs(sbt_home, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    os.makedirs(os.path.join(sbt_home, "tmp"), exist_ok=True)
    # sbt's global base, boot dir, temp files and sockets stay in the checkout
    opts = ["-Xmx2g", "-XX:-UsePerfData", "-Dsbt.offline=true",
            "-Dsbt.server.autostart=false", f"-Dsbt.global.base={sbt_home}/global",
            f"-Dsbt.ivy.home={sbt_home}/ivy", f"-Djava.io.tmpdir={sbt_home}/tmp"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(BUILD, "build.log")
    code = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"],
                       log_path, deadline - time.time(), cwd=HERE, env=env)
    if code != 0:
        sys.stderr.write(tail(log_path))
        fail(f"build failed (exit {code}); log in {log_path}")
    lines = [l.strip() for l in open(log_path) if l.strip().startswith("/")]
    if not lines:
        fail(f"build printed no classpath; log in {log_path}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def jvm_flags(cores, work):
    heap_mb = max(1024, min(3072, mem_total_mb() // 4))
    return [
        f"-Xmx{heap_mb}m", "-XX:+UseG1GC", "-XX:-UsePerfData",
        f"-XX:ParallelGCThreads={cores}", "-XX:ConcGCThreads=1",
        f"-XX:ActiveProcessorCount={cores}",
        f"-Djava.io.tmpdir={work}/tmp",
    ] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        top, head = (out.stdout.split() + ["", ""])[:2]
        if out.returncode == 0 and os.path.realpath(top) == os.path.realpath(ROOT):
            return head
    except (OSError, subprocess.SubprocessError):
        pass
    return "unknown (not a git checkout)"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="a two-day crawl window (the benchmark's own tests)")
    ap.add_argument("--record-goldens", action="store_true",
                    help="query_sweep: write the goldens instead of checking them")
    args = ap.parse_args()
    start = time.time()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no library sources under {ROOT}/src; run from a full checkout")
    for need in (DATA, GOLDENS):
        if args.workload == "query_sweep" and not os.path.exists(need) \
                and not (need == GOLDENS and args.record_goldens):
            fail(f"missing {need}")

    os.makedirs(BUILD, exist_ok=True)
    # one workload at a time on the machine
    lock = open(os.path.join(BUILD, "run.lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)

    classpath = build(start + BUILD_LIMIT_S)
    run_start = time.time()
    cores = nproc()
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(BUILD, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    raw_path = os.path.join(BUILD, "raw", tag + ".json")
    os.makedirs(os.path.dirname(raw_path), exist_ok=True)
    if os.path.exists(raw_path):
        os.remove(raw_path)

    flags = jvm_flags(cores, work)
    cmd = ["java"] + flags + ["-cp", classpath, "perfbench.Main",
                              "--workload", args.workload, "--seed", str(args.seed),
                              "--seconds", str(args.seconds), "--trace", str(args.trace),
                              "--cores", str(cores), "--work", work, "--out", raw_path,
                              "--data", DATA, "--goldens", GOLDENS]
    if args.tiny:
        cmd.append("--tiny")
    if args.record_goldens:
        os.makedirs(os.path.dirname(GOLDENS), exist_ok=True)
        cmd.append("--record-goldens")
    load_before = loadavg()
    log_path = os.path.join(BUILD, "logs", tag + ".log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    code = run_bounded(cmd, log_path, RUN_LIMIT_S - (time.time() - run_start), cwd=ROOT)
    load_after = loadavg()
    if code != 0 or not os.path.exists(raw_path):
        sys.stderr.write(tail(log_path))
        fail(f"JVM exit {code}; log in {log_path}")
    with open(raw_path) as f:
        raw = json.load(f)
    shutil.rmtree(work, ignore_errors=True)

    env = {"nproc": cores, "jvm_flags": " ".join(flags),
           "spark": raw.get("spark_version"), "scala": raw.get("scala_version"),
           "commit": git_commit(), "loadavg_before": load_before,
           "loadavg_after": load_after, "raw record": raw_path}
    result = metrics.summarize(raw, trace=bool(args.trace))
    for line in metrics.report_lines(args.workload, raw, result, env):
        print(line)
    print(json.dumps(result["final"]))


if __name__ == "__main__":
    main()
