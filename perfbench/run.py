#!/usr/bin/env python3
"""Runs one benchmark workload against the engine and prints its metrics.

    python3 perfbench/run.py --workload refjob --seed 1 --seconds 12 --trace 0

Run it from the root of a checkout. It builds the engine and the benchmark
from source with sbt (once per source state; the classpath is cached under
.bench_build/), then runs the workload in one JVM. The JVM works in its own
directory under .bench_run/ (working directory, java.io.tmpdir and Spark's
local dir), which is deleted at exit. A traced run (--trace 1) keeps its span
file under .bench_out/.

The last stdout line is the JSON result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

The run fails (exit code 1, correct=false) when an output does not match its
model or pinned digest, or when the run left a trace outside its own
directories: a changed file in the checkout, a changed `git status`, or a
new graft_* directory in /tmp.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUNS = os.path.join(ROOT, ".bench_run")
OUT = os.path.join(ROOT, ".bench_out")
WORKLOADS = ("refjob", "query_mix", "layout_rw")
# Directories the build and the benchmark itself write; everything else in
# the checkout must be left as it was.
OWN_DIRS = {".git", "target", ".bench_build", ".bench_run", ".bench_out", ".bsp"}
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads, as paths relative to the checkout."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        files += [os.path.join(d, f) for f in sorted(os.listdir(d))
                  if f.endswith((".sbt", ".scala", ".properties"))] if os.path.isdir(d) else []
    for r in roots:
        for dirpath, dirnames, filenames in os.walk(r):
            dirnames.sort()
            files += [os.path.join(dirpath, f) for f in sorted(filenames)]
    return [os.path.relpath(f, ROOT) for f in files if os.path.isfile(f)]


def source_stamp():
    h = hashlib.sha256()
    for rel in source_files():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compiles engine + benchmark if the sources changed; returns the classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_LIMIT_S, stdin=subprocess.DEVNULL)
    lines = proc.stdout.splitlines()
    cp = [l for l in lines if l.startswith("/") and ".jar" in l]
    if proc.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1]


def tree_state():
    """(size, mtime) of every checkout file outside the build's own dirs."""
    state = {}
    for dirpath, dirnames, filenames in os.walk(ROOT):
        rel = os.path.relpath(dirpath, ROOT)
        dirnames[:] = [d for d in dirnames if d not in OWN_DIRS
                       and not (d == "project" and os.path.basename(dirpath) == "project")]
        for f in filenames:
            p = os.path.join(dirpath, f)
            try:
                st = os.lstat(p)
            except FileNotFoundError:
                continue
            state[os.path.normpath(os.path.join(rel, f))] = (st.st_size, st.st_mtime_ns)
    return state


def git_status():
    """`git status --porcelain` when the checkout is a git work tree (read-only)."""
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    env = dict(os.environ, GIT_OPTIONAL_LOCKS="0")
    r = subprocess.run(["git", "status", "--porcelain"], cwd=ROOT, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    return r.stdout


def tmp_roots():
    return len(glob.glob("/tmp/graft_*"))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # On SIGTERM, unwind through the `finally` below so the JVM is killed
    # and waited for, and the run directory removed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no engine sources next to {os.path.relpath(HERE, ROOT)}/ (run from a full checkout)")

    cp = build()
    t_start = time.monotonic()
    before = (tree_state(), git_status(), tmp_roots())

    run_dir = os.path.join(RUNS, f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    work = os.path.join(run_dir, "work")
    for d in (tmp, local, work):
        os.makedirs(d)
    os.makedirs(OUT, exist_ok=True)
    span_file = os.path.join(OUT, f"{args.workload}-seed{args.seed}.spans.jsonl")
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = local
    # A fixed heap keeps the resident set comparable between runs;
    # -XX:-UsePerfData keeps the JVM from writing its hsperfdata file to /tmp.
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            "-Xss4m", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}"]
           + [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", args.workload, str(args.seed), str(args.seconds),
              str(args.trace), work, span_file])
    proc = None
    out_lines = []
    try:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                                stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=max(10, RUN_LIMIT_S - (time.monotonic() - t_start)))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail("run exceeded its time limit")
        out_lines = stdout.splitlines()
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        if os.path.isdir(RUNS) and not os.listdir(RUNS):
            os.rmdir(RUNS)

    result = None
    if out_lines:
        try:
            result = json.loads(out_lines[-1])
        except ValueError:
            result = None
    for line in out_lines[:-1] if result else out_lines:
        print(line)
    if result is None:
        fail(f"the benchmark JVM exited with code {proc.returncode} and no result")

    after = (tree_state(), git_status(), tmp_roots())
    problems = []
    changed = sorted(k for k in set(before[0]) | set(after[0]) if before[0].get(k) != after[0].get(k))
    if changed:
        problems.append(f"checkout files changed: {', '.join(changed[:10])}")
    if before[1] != after[1]:
        problems.append("git status changed")
    if before[2] != after[2]:
        problems.append(f"/tmp/graft_* count went from {before[2]} to {after[2]}")
    for p in problems:
        print(f"hygiene: {p}")
    if args.trace:
        print(f"spans: {os.path.relpath(span_file, ROOT)}")
    if problems:
        result["correct"] = False
        result["failed"] += 1
    print(json.dumps(result))
    sys.exit(0 if result["correct"] and proc.returncode == 0 else 1)


if __name__ == "__main__":
    main()
