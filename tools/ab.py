#!/usr/bin/env python3
"""A/B the benchmark between two checkouts in alternating pairs of runs.

    python3 tools/ab.py PARENT_DIR CHANGE_DIR [--pairs 10] [--first-seed 41]
        [--seconds 15] [--trace 0] [--workloads ingest,serve] [--json OUT]

Each checkout's own perfbench/run.py runs there (it builds that checkout's
source). For each workload, pair i uses seed first_seed + i: the parent
runs first on odd seeds and the change first on even seeds, so drift over
the session does not favour one side. Prints every run's end-to-end
metrics (the names BENCHMARK.json declares, in its order), then per metric
the parent -> change medians, the relative move, the parent's quartiles
and in how many pairs the change was better. Nothing in either checkout
is edited. --json writes every parsed result.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=41)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workloads", default="ingest,serve")
    ap.add_argument("--json", help="write every parsed result here")
    return ap.parse_args(argv)


def run(checkout, workload, seed, seconds, trace):
    """One perfbench run in `checkout`; its parsed result, or None."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-2000:])
        return None
    return json.loads(lines[-1])


def fmt(v):
    if v is None:
        return "-"
    a = abs(v)
    return f"{v:.0f}" if a >= 100 else f"{v:.1f}" if a >= 10 else f"{v:.2f}"


def value(result, name):
    m = result["metrics"].get(name) if result else None
    return m["value"] if m else None


def describe(result, names):
    if result is None:
        return "FAILED (no result)"
    vals = " / ".join(fmt(value(result, n)) for n in names)
    return f"{vals} ({result['attempted']} ops, {result['failed']} failed" + \
        ("" if result["correct"] else ", INCORRECT") + ")"


def summary(metric, pairs):
    """`metric` over the pairs of results: medians, move, quartiles, wins."""
    name, better = metric["name"], metric["better"]
    both = [(value(p, name), value(c, name)) for p, c in pairs]
    both = [(p, c) for p, c in both if p is not None and c is not None]
    if not both:
        return f"{name}: no data"
    par = [p for p, _ in both]
    chg = [c for _, c in both]
    mp, mc = statistics.median(par), statistics.median(chg)
    move = f"{(mc - mp) / mp * 100:+.1f} %" if mp else "n/a"
    q = statistics.quantiles(par, n=4, method="inclusive") if len(par) > 1 else [mp, mp, mp]
    wins = sum(1 for p, c in both if (c < p if better == "lower" else c > p))
    return (f"{name} {fmt(mp)} -> {fmt(mc)} {metric['unit']} ({move}; parent quartiles "
            f"{fmt(q[0])}-{fmt(q[2])}; change {better} in {wins} of {len(both)} pairs)")


def main(argv):
    args = parse_args(argv)
    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    names = [m["name"] for m in metrics]
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    record = {}
    for workload in args.workloads.split(","):
        print(f"{workload}: per run {' / '.join(names)}", flush=True)
        pairs = []
        for i in range(args.pairs):
            seed = args.first_seed + i
            order = ("parent", "change") if seed % 2 else ("change", "parent")
            got = {side: run(sides[side], workload, seed, args.seconds, args.trace) for side in order}
            pairs.append((got["parent"], got["change"]))
            print(f"  {seed}: " + "; ".join(f"{side} {describe(got[side], names)}" for side in order),
                  flush=True)
        record[workload] = [{"seed": args.first_seed + i, "parent": p, "change": c}
                            for i, (p, c) in enumerate(pairs)]
        print(f"{workload} medians parent -> change:")
        for m in metrics:
            print("  " + summary(m, pairs), flush=True)
    if args.json:
        with open(args.json, "w") as f:
            json.dump(record, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
