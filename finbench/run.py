#!/usr/bin/env python3
"""Finance-pipeline benchmark runner.

Run from the root of a checkout of the engine:

    python3 finbench/run.py --workload etl_backfill --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source with sbt (only when a
source file changed since the last build), then runs one workload in a
fresh JVM on local[nproc] and relays its output. The last line of standard
output is one JSON object: correct, attempted, failed and metrics
(end-to-end with --trace 0, per-layer with --trace 1). See README.md.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
RUNS = os.path.join(BENCH, ".run")
WORKLOADS = ["etl_backfill", "daily_incremental", "serving_queries", "stream_ingest"]
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = ["-Xms2g", "-Xmx2g"]
# compiler threads live as long as the JVM, so the benchmark can read
# their CPU time from /proc and charge operations the rest (Cpu.scala)
JIT = ["-XX:-UseDynamicNumberOfCompilerThreads"]
# the whole heap is resident from the start, so peak_rss_mb does not move
# with how many operations fit in the measured window
PRETOUCH = ["-XX:+AlwaysPreTouch"]


def fail(msg):
    print(f"finbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build: engine and benchmark sources and build files."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
              os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, dirs, files in os.walk(top):
            dirs.sort()
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    """Compile with sbt if needed; return (classpath, jvm options)."""
    stamp_file = os.path.join(BUILD, "stamp")
    launch = os.path.join(BUILD, "launch.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp and os.path.exists(launch):
        return read_launch(launch)
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.override.build.repos=true -Dsbt.offline=true"
                       " -Dsbt.server.autostart=false -Xmx2g").strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        code = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"], BUILD_TIMEOUT_S,
                           cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if code != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (exit {code}); log in {log}")
    shutil.copyfile(os.path.join(BENCH, "target", "launch.txt"), launch)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return read_launch(launch)


def read_launch(path):
    lines = open(path).read().splitlines()
    return lines[0], [l for l in lines[1:] if l and not l.startswith(("-Xmx", "-Xms"))]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "GraftSession.scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"engine source {need} not found next to the benchmark; run from a checkout of the engine")
    if shutil.which("java") is None:
        fail("java is not on PATH")

    classpath, jvm_opts = build()
    run_dir = os.path.join(RUNS, f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + HEAP + PRETOUCH + JIT + jvm_opts +
           [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            "-cp", classpath, "finbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--dir", os.path.join(run_dir, "data")])
    log = os.path.join(RUNS, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    try:
        with open(log, "w") as err:
            out = os.path.join(run_dir, "stdout")
            with open(out, "w") as so:
                code = run_bounded(cmd, RUN_TIMEOUT_S, cwd=run_dir, stdout=so, stderr=err,
                                   stdin=subprocess.DEVNULL)
            text = open(out).read()
    finally:
        traces = os.path.join(run_dir, "data", "..", "traces")
        if os.path.isdir(traces):
            os.makedirs(os.path.join(RUNS, "traces"), exist_ok=True)
            for f in os.listdir(traces):
                shutil.copyfile(os.path.join(traces, f), os.path.join(RUNS, "traces", f))
        shutil.rmtree(run_dir, ignore_errors=True)
    if code is None:
        sys.stderr.write(text)
        fail(f"run exceeded {RUN_TIMEOUT_S} s; JVM log in {log}")
    sys.stdout.write(text)
    sys.stdout.flush()
    if code != 0:
        print(f"finbench: JVM exited {code}; log in {log}", file=sys.stderr)
    sys.exit(code)


if __name__ == "__main__":
    main()
