#!/usr/bin/env python3
"""Benchmark entry point: builds the program and the benchmark from source,
then runs one workload in a single JVM and relays its output.

    python3 perfbench/run.py --workload etl_cohort --seed 1 --seconds 16 --trace 0

Run it from the root of a checkout. The last line of standard output is one
JSON object with the keys correct, attempted, failed and metrics; everything
before it is a human-readable report. Build output, generated inputs and
traces go under .bench_build/ in the checkout.

Workloads: etl_cohort and ingest_serve (see BENCHMARK.json).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
LAUNCH = os.path.join(BUILD, "target", "launch.txt")
STAMP = os.path.join(BUILD, "launch.stamp")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file whose change requires a rebuild, relative to ROOT."""
    files = ["build.sbt", "project/build.properties",
             "perfbench/build.sbt", "perfbench/project/build.properties"]
    for top in ("src/main", "perfbench/src"):
        for d, _, names in os.walk(os.path.join(ROOT, top)):
            files += [os.path.relpath(os.path.join(d, n), ROOT) for n in names]
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for rel in source_files():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def heap_size():
    """Half the host memory, clamped to 2..8 GB: the heap the program's own
    test command gives the JVM."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def build(env):
    stamp = source_stamp()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == stamp:
                return
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launch"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=BUILD_LIMIT_S)
    if r.returncode != 0 or not os.path.exists(LAUNCH):
        fail(f"build failed (sbt exit {r.returncode})", 3)
    with open(STAMP, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    def on_term(signum, frame):
        raise KeyboardInterrupt
    # a SIGTERM takes the same way out as ^C: stop the JVM, then clean up
    signal.signal(signal.SIGTERM, on_term)

    for rel in ("build.sbt", "src/main/scala/graft/etl/Lake.scala"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            fail(f"program source {rel} not found under {ROOT}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    env = dict(os.environ)
    env.setdefault("SPARK_DRIVER_MEM", heap_size())
    build(env)

    with open(LAUNCH) as f:
        lines = f.read().splitlines()
    classpath, jvm_opts = lines[0], [l for l in lines[1:] if l]

    work = os.path.join(BUILD, "work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SPARK_LOCAL_DIRS"] = tmp
    cmd = ["java", f"-Djava.io.tmpdir={tmp}", *jvm_opts, "-cp", classpath,
           "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work-dir", work, "--trace-dir", os.path.join(BUILD, "traces")]

    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    timed_out = threading.Event()

    def kill():
        timed_out.set()
        os.killpg(proc.pid, signal.SIGKILL)

    watchdog = threading.Timer(RUN_LIMIT_S, kill)
    watchdog.start()
    last = ""
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line:
                print(line, flush=True)
                last = line
        code = proc.wait()
    except KeyboardInterrupt:
        kill()
        proc.wait()
        raise
    finally:
        watchdog.cancel()
        shutil.rmtree(work, ignore_errors=True)
    if timed_out.is_set():
        fail("run exceeded its time limit", 4)

    try:
        result = json.loads(last)
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        fail(f"no result line (benchmark exit {code})", code or 5)
    sys.exit(code if code else (0 if result["correct"] else 1))


if __name__ == "__main__":
    main()
