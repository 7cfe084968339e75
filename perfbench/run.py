#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload ingest|serve --seed N \
        --seconds S --trace 0|1

Builds the engine and the benchmark from source first (see build.py), then
runs one JVM. With --trace 0 the result holds the end-to-end metrics, with
--trace 1 the per-layer metrics; the spans of a traced run are kept in
perfbench/.work/traces/. Exits non-zero, printing no result, if the build or
the run fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("ingest", "serve")
RUN_LIMIT_S = 170
# the module access spark-submit grants a Spark JVM on JDK 17
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the self-check runs at tiny sizes)")
    ap.add_argument("--corrupt-oracle", action="store_true",
                    help="corrupt one expected value; the run must then fail its checks")
    ap.add_argument("--rate", type=int,
                    help="ingest readings/s instead of the default (for the rate sweep)")
    return ap.parse_args(argv)


def run(args):
    """Build, run the JVM and return the parsed result, or None on failure."""
    classpath = build.build()
    work = os.path.join(build.WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # a fixed heap; C1 only: the C2 tier needs about 25 s of this load to
    # settle, longer than a run can spend, and would drift through the window
    cmd = [build.java(), "-Xms1g", "-Xmx1g", "-Xss8m", "-XX:TieredStopAtLevel=1",
           "-XX:ReservedCodeCacheSize=256m", *ADD_OPENS,
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-cp", classpath, "graft.perfbench.PerfBench",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--scale", str(args.scale), "--work", work]
    if args.corrupt_oracle:
        cmd.append("--corrupt-oracle")
    if args.rate:
        cmd += ["--rate", str(args.rate)]
    log_path = os.path.join(work, "jvm.log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                    start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=RUN_LIMIT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                sys.stderr.write(f"run: timed out after {RUN_LIMIT_S} s\n")
                return None
        with open(log_path) as log:
            lines = log.read().splitlines()
        if proc.returncode != 0:
            sys.stderr.write("\n".join(lines[-60:]) + "\n")
            sys.stderr.write(f"run: JVM exited with code {proc.returncode}\n")
            return None
        sys.stderr.writelines(l + "\n" for l in lines if l.startswith("[perfbench]"))
        trace = os.path.join(work, "trace.jsonl")
        if os.path.exists(trace):
            traces = os.path.join(build.WORK, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(trace, os.path.join(traces, f"{args.workload}-seed{args.seed}.jsonl"))
        result = [l for l in out.splitlines() if l.strip()]
        return json.loads(result[-1]) if result else None
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main(argv):
    args = parse_args(argv)
    t0 = time.time()
    result = run(args)
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write("run: no result\n")
        return 1
    sys.stderr.write(f"run: {args.workload} seed {args.seed} took {time.time() - t0:.1f} s\n")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
