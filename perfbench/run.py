#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads: cdc_replicate, olap_suite, iterative_ops (see README.md here).

The first run in a checkout compiles the product and the benchmark with sbt
(the benchmark's build in this directory depends on the product build one
directory up) and generates the parquet fixtures; later runs reuse both
until a source file changes. Everything the runs write stays under
`perfbench/out/`, and the build's output under the sbt `target/`
directories.
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

WORKLOADS = ("cdc_replicate", "olap_suite", "iterative_ops")
FIXTURES = ("0.1", "0.01")
DRIVER_HEAP = "3g"
RUN_LIMIT_S = 170  # a run, build excluded, must end well inside 180 s
BUILD_LIMIT_S = 840

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_digest(paths):
    """sha256 over the relative path and content of every file under paths."""
    h = hashlib.sha256()
    for top in paths:
        if os.path.isfile(top):
            files = [top]
        else:
            files = sorted(os.path.join(d, f) for d, dirs, fs in os.walk(top)
                           for f in fs if not any(p in ("target", "out") for p in
                                                  os.path.relpath(d, top).split(os.sep)))
        for f in sorted(files):
            h.update(os.path.relpath(f, ROOT).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def product_sources():
    return [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(ROOT, "src", "main")]


def bench_sources():
    return [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
            os.path.join(HERE, "src", "main")]


CHILD = None  # the process group this script is waiting on


def stop_child(*_):
    """Kill the child's process group and wait for it (on timeout or signal)."""
    if CHILD is not None and CHILD.poll() is None:
        os.killpg(CHILD.pid, signal.SIGKILL)
        CHILD.wait()


def on_signal(signum, _frame):
    stop_child()
    sys.exit(128 + signum)


def start(cmd, cwd, env, stdout):
    global CHILD
    CHILD = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=sys.stderr, env=env,
                             start_new_session=True, text=True)
    return CHILD


def run_logged(cmd, cwd, limit, env=None):
    """Run cmd with its output on stderr; kill its process group on timeout."""
    p = start(cmd, cwd, env, sys.stderr)
    try:
        return p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        stop_child()
        return None


def ensure_build():
    """Compile with sbt unless the sources are unchanged since the last build."""
    stamp = os.path.join(OUT, "build.stamp")
    launch = os.path.join(HERE, "target", "launch.txt")
    digest = tree_digest(product_sources() + bench_sources())
    if os.path.exists(launch) and os.path.exists(stamp) and open(stamp).read() == digest:
        return launch
    log("building product and benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    rc = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
                     "writeLaunch"], HERE, BUILD_LIMIT_S, env)
    if rc != 0 or not os.path.exists(launch):
        sys.exit(f"perfbench: build failed (sbt exit {rc})")
    with open(stamp, "w") as f:
        f.write(digest)
    return launch


def ensure_fixtures():
    """Generate the fixture tables unless the generator is unchanged."""
    data = os.path.join(OUT, "data")
    stamp = os.path.join(data, "fixtures.stamp")
    digest = tree_digest([os.path.join(HERE, "gen_fixtures.py")]) + ",".join(FIXTURES)
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return data
    shutil.rmtree(data, ignore_errors=True)
    for sf in FIXTURES:
        log(f"generating sf{sf} fixtures")
        rc = run_logged([sys.executable, os.path.join(HERE, "gen_fixtures.py"),
                         os.path.join(data, f"sf{sf}"), "--sf", sf], HERE, 300)
        if rc != 0:
            sys.exit(f"perfbench: fixture generation failed (exit {rc})")
    with open(stamp, "w") as f:
        f.write(digest)
    return data


def java_cmd(launch, work):
    """The JVM command line for a benchmark main, with its work directory."""
    with open(launch) as f:
        lines = f.read().splitlines()
    classpath, jvm_opts = lines[0], [o for o in lines[1:] if o]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # JVM warnings go to stderr: stdout carries only the benchmark's JSON
    return [java, f"-Xmx{DRIVER_HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-XX:-UsePerfData", "-Xlog:disable", "-Xlog:all=warning:stderr", *jvm_opts,
            "-cp", classpath]


def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "tmp"))
    return path


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def main():
    started_ns = time.time_ns()
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    missing = [p for p in product_sources() if not os.path.exists(p)]
    if missing:
        sys.exit("perfbench: run from a checkout of the product; missing "
                 + ", ".join(os.path.relpath(p, ROOT) for p in missing))
    os.makedirs(OUT, exist_ok=True)
    t_build = time.time_ns()
    launch = ensure_build()
    data = ensure_fixtures()
    # a one-off build is not set-up: start the set-up clock as if it took no time
    started_ns += time.time_ns() - t_build
    work = fresh_dir(os.path.join(OUT, "runs", f"{a.workload}-{a.seed}-{os.getpid()}"))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    commit = git_commit()
    cmd = java_cmd(launch, work) + ["perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--data", data, "--work", work,
           "--expected", os.path.join(HERE, "expected"),
           "--cores", str(len(os.sched_getaffinity(0))),
           "--started-ns", str(started_ns),
           "--source-digest", tree_digest(product_sources())[:16]]
    if commit:
        cmd += ["--commit", commit]
    p = start(cmd, ROOT, env, subprocess.PIPE)
    try:
        out, _ = p.communicate(timeout=RUN_LIMIT_S - (time.time_ns() - started_ns) / 1e9)
    except subprocess.TimeoutExpired:
        stop_child()
        sys.exit("perfbench: run exceeded its time limit")
    finally:
        traces = os.path.join(OUT, "traces")
        os.makedirs(traces, exist_ok=True)
        for f in os.listdir(work):
            if f.startswith("trace-"):
                shutil.move(os.path.join(work, f), os.path.join(traces, f))
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.exit(f"perfbench: benchmark exited with {p.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit("perfbench: malformed result line")
    for line in lines:
        print(line)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
