#!/usr/bin/env python3
"""Benchmark entry point.

Run from the root of a checkout:

    python3 perfbench/run.py --workload search --seed 1 --seconds 20 --trace 0

It builds the engine and the benchmark from source with sbt (once per
checkout: the build is skipped while a content hash of every source and
build file still matches), then runs the benchmark JVM
(`graft.perfbench.Main`) in a single local Spark session. The JVM writes
its report (every metric by name and unit, the inputs, the host context,
failed checks) and its result to files; this script prints the report
and then the result as the last line of standard output. Every path it
writes is under `.bench_build/` in the checkout.

Exit status: 0 when the run finished and every output check passed;
1 when a check failed or the JVM failed; 2 when the checkout does not
hold the engine's sources (nothing is built or printed then).
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BUILD_DIR = ".bench_build"
MAIN_CLASS = "graft.perfbench.Main"
# a run must end within 180 s, not counting a first build
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 840

# Spark on JDK 17 needs these outside spark-submit (the engine's own
# build.sbt passes the same list to its forked runs and tests)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

HASHED = ["build.sbt", "project/build.properties", "src/main",
          "perfbench/build.sbt", "perfbench/project/build.properties",
          "perfbench/src"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash(root):
    h = hashlib.sha256()
    for rel in HASHED:
        path = os.path.join(root, rel)
        files = []
        if os.path.isfile(path):
            files = [path]
        else:
            for d, dirs, names in os.walk(path):
                dirs.sort()
                files += [os.path.join(d, n) for n in sorted(names)]
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build(root, out_dir):
    """Compile engine + benchmark; return the runtime classpath."""
    stamp_file = os.path.join(out_dir, "build.stamp")
    cp_file = os.path.join(out_dir, "classpath.txt")
    stamp = source_hash(root)
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f, open(cp_file) as c:
            same, cp = f.read() == stamp, c.read().strip()
        # the class directories are sbt's, outside .bench_build: rebuild
        # when one has gone
        if same and all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    log("building engine and benchmark with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspath"],
        cwd=os.path.join(root, "perfbench"), env=sbt_env(),
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_LIMIT_S)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise RuntimeError(f"sbt build failed (exit {proc.returncode})")
    lines = [l for l in proc.stdout.splitlines()
             if not l.startswith("[") and ".jar" in l]
    if not lines:
        sys.stderr.write(proc.stdout[-4000:])
        raise RuntimeError("sbt printed no classpath")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build took {time.time() - t0:.1f} s")
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        log("run from the root of a checkout holding the engine's sources "
            "(build.sbt and src/main/scala/graft not found)")
        return 2

    out_dir = os.path.join(root, BUILD_DIR, "perfbench")
    os.makedirs(out_dir, exist_ok=True)
    cp = build(root, out_dir)
    # the build may take long on a checkout's first run; the run's own
    # limit counts from here
    t_start = time.time()

    work = os.path.join(out_dir, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_file = os.path.join(work, "result.json")
    report_file = os.path.join(work, "report.txt")
    cmd = (["java"] +
           [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xmx3g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-cp", cp, MAIN_CLASS,
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", result_file,
            "--artifacts", os.path.join(out_dir, "results")])
    limit = max(30, RUN_LIMIT_S - (time.time() - t_start))
    # the JVM's stdout is its report; Spark's logs go to stderr
    with open(report_file, "w") as report:
        proc = subprocess.Popen(cmd, cwd=root, stdout=report,
                                start_new_session=True)
    try:
        rc = proc.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        log(f"benchmark JVM exceeded {limit:.0f} s; stopping it")
        os.killpg(proc.pid, signal.SIGTERM)
        try:
            proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        rc = -1
    with open(report_file) as f:
        sys.stdout.write(f.read())
    result = None
    if os.path.isfile(result_file):
        try:
            with open(result_file) as f:
                result = json.load(f)
        except ValueError:
            log("the result file is not valid JSON")
    shutil.rmtree(work, ignore_errors=True)
    if result is None:
        log(f"no result (JVM exit {rc})")
        return 1
    print(json.dumps(result, separators=(",", ":")), flush=True)
    return 0 if rc == 0 and result.get("correct") else 1


if __name__ == "__main__":
    sys.exit(main())
