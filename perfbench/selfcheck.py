#!/usr/bin/env python3
"""Fast self-check of the benchmark at tiny input sizes.

    python3 perfbench/selfcheck.py

1. Every workload in BENCHMARK.json runs at a tenth of its input size, once
   untraced and once traced. Each result must hold exactly the end-to-end
   metrics (untraced) or the per-layer metrics (traced) that BENCHMARK.json
   names, each with its unit and a numeric value.
2. An ingest run with one expected cell corrupted must catch it: the run
   reports a failed check, is not correct, and names the drained-table
   comparison in its log. This proves the oracle check can fail.

Exits 0 when all of it holds.
"""
import json
import os
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
SCALE = "0.1"
SECONDS = "9"


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", SECONDS, "--trace", str(trace), "--scale", SCALE, *extra]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"selfcheck: {workload} trace={trace} failed to run:\n{proc.stderr[-4000:]}")
    return json.loads(lines[-1]), proc.stderr


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []
    for w in bench["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            result, log = run(w["name"], trace)
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = result["metrics"]
            if set(got) != set(want):
                problems.append(f"{w['name']} trace={trace}: metrics differ: "
                                f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}")
            for name, m in got.items():
                if name in want and (m.get("unit") != want[name] or not isinstance(m.get("value"), (int, float))):
                    problems.append(f"{w['name']} trace={trace}: bad metric {name}: {m}")
            status = "correct" if result["correct"] else "NOT correct"
            print(f"selfcheck: {w['name']} trace={trace}: {len(got)} metrics, {status} "
                  f"({result['failed']} of {result['attempted']} checks failed)")
            if not result["correct"]:
                sys.stdout.write("".join(l + "\n" for l in log.splitlines() if l.startswith("[perfbench]")))
    result, log = run("ingest", 0, "--corrupt-oracle")
    caught = result["failed"] >= 1 and not result["correct"] and "differ from the oracle" in log
    print(f"selfcheck: corrupted oracle cell {'caught' if caught else 'NOT caught'}")
    if not caught:
        problems.append("a corrupted oracle cell was not caught")
    for p in problems:
        print("selfcheck: FAIL " + p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
