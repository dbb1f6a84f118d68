#!/usr/bin/env python3
"""Runs one benchmark workload against the checkout it sits in.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of the repository. The first run builds the program
and the benchmark from source with sbt (into the checkout's own target
directories) and records the runtime classpath under the build
directory; later runs reuse it until a source file changes. After a
build, one JVM fills the build's cache with the inputs that depend only
on the code: the query mix's tables and the pipeline's 60-day history.
Each run starts one JVM, which writes its result to a file; the last
line this script prints is that result, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Everything the run writes stays under the build directory, which is
`$CARGO_TARGET_DIR` when set and `.bench_build` otherwise.
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

WORKLOADS = ("pipeline_increment", "query_mix")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
PREPARE_TIMEOUT_S = 600
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_files(root, bench):
    """Every file whose change should trigger a rebuild."""
    files = [os.path.join(root, "build.sbt"), os.path.join(root, "project", "build.properties"),
             os.path.join(bench, "build.sbt"), os.path.join(bench, "project", "build.properties")]
    for top in (os.path.join(root, "src", "main"), os.path.join(bench, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def stamp(root, bench):
    h = hashlib.sha256()
    for f in source_files(root, bench):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, bench, build_dir):
    """Compiles with sbt and returns the runtime classpath."""
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "classpath.stamp")
    want = stamp(root, bench)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                with open(cp_file) as fh2:
                    return fh2.read().strip()
    log("building the program and the benchmark with sbt")
    t0 = time.monotonic()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "perfbench/compile", "export perfbench/Runtime/fullClasspath"]
    proc = subprocess.Popen(cmd, cwd=bench, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop(proc)
        raise SystemExit("build timed out")
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out[-4000:])
        raise SystemExit("build failed")
    classpath = lines[-1].strip()
    if "perfbench" not in classpath or ":" not in classpath:
        sys.stderr.write(out[-4000:])
        raise SystemExit("build did not report a classpath")
    os.makedirs(build_dir, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(classpath + "\n")
    with open(stamp_file, "w") as fh:
        fh.write(want + "\n")
    log(f"built in {time.monotonic() - t0:.1f} s")
    return classpath


def git_sha(root):
    """The commit under test, where the checkout is a git repository."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "n/a"
    except (OSError, subprocess.TimeoutExpired):
        return "n/a"


def cache_dir(build_dir):
    """Inputs that depend only on the code, kept for this build only."""
    with open(os.path.join(build_dir, "classpath.stamp")) as fh:
        current = fh.read().strip()[:16]
    root = os.path.join(build_dir, "cache")
    if os.path.isdir(root):
        for old in os.listdir(root):
            if old != current:
                shutil.rmtree(os.path.join(root, old), ignore_errors=True)
    return os.path.join(root, current)


def stop(proc):
    """Stops a process started in its own session and everything it spawned."""
    try:
        os.killpg(proc.pid, signal.SIGTERM)
        proc.wait(timeout=10)
    except (ProcessLookupError, subprocess.TimeoutExpired):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()


def run_jvm(root, classpath, run_dir, args, timeout):
    """Runs perfbench.Main with `args`, its output on stderr; returns its exit code."""
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = ["java", "-Xmx3g", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={run_dir}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--work", run_dir] + args
    proc = subprocess.Popen(cmd, cwd=root, stdout=sys.stderr, stdin=subprocess.DEVNULL,
                            start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        log(f"benchmark JVM exceeded {timeout} s")
        return None
    finally:
        if proc.poll() is None:
            stop(proc)


def prepare_cache(root, classpath, build_dir):
    """Builds the cached inputs once per build; returns the cache directory."""
    cache = cache_dir(build_dir)
    ready = os.path.join(cache, "READY")
    if os.path.exists(ready):
        return cache
    log("building the cached inputs: the mix tables and the pipeline history")
    t0 = time.monotonic()
    run_dir = os.path.join(build_dir, "runs", f"prepare-{os.getpid()}")
    code = run_jvm(root, classpath, run_dir, ["--workload", "prepare-cache", "--cache", cache],
                   PREPARE_TIMEOUT_S)
    shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0:
        raise SystemExit("building the cached inputs failed")
    with open(ready, "w") as fh:
        fh.write("\n")
    log(f"cached inputs built in {time.monotonic() - t0:.1f} s")
    return cache


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--dump", help="write each mix query's output here (oracle cross-check)")
    args = ap.parse_args()

    root = os.getcwd()
    bench = os.path.join(root, "perfbench")
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src", "main", "scala")) and
            os.path.isfile(os.path.join(bench, "build.sbt"))):
        log("run from the root of a checkout of the repository: its build.sbt and "
            "src/main/scala are needed to build the program under test")
        return 2
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classpath = build(root, bench, build_dir)
    cache = prepare_cache(root, classpath, build_dir)

    run_dir = os.path.join(build_dir, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_file = os.path.join(run_dir, "result.json")
    trace_dir = os.path.join(build_dir, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    jargs = ["--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--out", out_file, "--cache", cache]
    if args.trace:
        jargs += ["--trace-out", os.path.join(trace_dir, f"{args.workload}-{args.seed}.json")]
    if args.dump:
        os.makedirs(args.dump, exist_ok=True)
        jargs += ["--dump", os.path.abspath(args.dump)]
    log(f"source {stamp(root, bench)[:16]}, git {git_sha(root)}")
    code = run_jvm(root, classpath, run_dir, jargs, RUN_TIMEOUT_S)
    if code != 0 or not os.path.exists(out_file):
        log(f"benchmark JVM exited with {code}")
        return 1
    with open(out_file) as fh:
        result = json.loads(fh.read())
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
