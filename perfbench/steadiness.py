#!/usr/bin/env python3
"""Steadiness of the benchmark: runs every workload repeatedly, alternating
the order of workloads between passes, and prints each end-to-end metric's
median, quartiles and spread (interquartile distance as a share of the
median) beside its bound. The bounds in BENCHMARK.json are set from this.

It then runs each workload traced twice with one seed and reports whether
the exact counts (Spark jobs, tasks and shuffle bytes, files read, pairs
verified, ...) repeat exactly.

    python3 perfbench/steadiness.py --runs 10 --seed 100
    python3 perfbench/steadiness.py --runs 5 --workloads corpus_dedup --no-counts

Run from the repository root. Each run takes a fresh seed (seed, seed+1,
...). The summary also goes to .bench_out/steadiness.json.
"""

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import stats  # noqa: E402

OUT = os.path.join(os.getcwd(), ".bench_out")


def run(workload, seed, seconds, trace):
    t0 = time.monotonic()
    res = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, text=True)
    took = time.monotonic() - t0
    lines = res.stdout.strip().splitlines()
    if res.returncode != 0 or not lines:
        sys.exit("run of %s seed %d failed with %d" % (workload, seed, res.returncode))
    return json.loads(lines[-1]), took


def exact_counts(workload, seed):
    """The exact counts of the full traced record of a run."""
    path = os.path.join(OUT, "%s-seed%d-trace1.json" % (workload, seed))
    with open(path) as fh:
        return stats.exact_counts(json.load(fh)["metrics"])


def main():
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--seed", type=int, default=100)
    p.add_argument("--seconds", type=float, default=spec["run_seconds"])
    p.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    p.add_argument("--no-counts", action="store_true", help="skip the exact-count check")
    args = p.parse_args()
    workloads = args.workloads.split(",")
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    values = {w: {} for w in workloads}
    shares = {w: set() for w in workloads}
    took = {w: [] for w in workloads}
    for i in range(args.runs):
        order = workloads if i % 2 == 0 else workloads[::-1]
        for w in order:
            line, t = run(w, args.seed + i, args.seconds, 0)
            took[w].append(t)
            shares[w].add((line["failed"], line["attempted"]) if line["failed"] else 0)
            if not line["correct"]:
                print("%s seed %d: incorrect" % (w, args.seed + i))
            for name, m in line["metrics"].items():
                values[w].setdefault(name, []).append(m["value"])

    summary = {}
    for w in workloads:
        print("\n%s  (%d runs, %.0f-%.0f s each, failed shares %s)" % (
            w, args.runs, min(took[w]), max(took[w]), sorted(map(str, shares[w]))))
        print("  %-28s %12s %12s %12s %8s %6s %s" % (
            "metric", "median", "q1", "q3", "spread", "bound", "spread/bound"))
        summary[w] = {"seconds_per_run": took[w]}
        for name, vs in values[w].items():
            q1, q2, q3 = stats.quantiles(vs) if len(vs) > 1 else (vs[0],) * 3
            sp = stats.spread(vs) if len(vs) > 1 else 0.0
            b = bounds.get(name)
            print("  %-28s %12.4f %12.4f %12.4f %8.4f %6.2f %s" % (
                name, q2, q1, q3, sp, b, "%.2f" % (sp / b)))
            summary[w][name] = {"values": vs, "median": q2, "q1": q1, "q3": q3, "spread": sp}

    if not args.no_counts:
        print("\nexact counts, two traced runs at seed %d:" % args.seed)
        for w in workloads:
            run(w, args.seed, args.seconds, 1)
            first = exact_counts(w, args.seed)
            run(w, args.seed, args.seconds, 1)
            second = exact_counts(w, args.seed)
            diff = sorted(k for k in set(first) | set(second) if first.get(k) != second.get(k))
            print("  %s: %d counts, %s" % (
                w, len(first), "all repeat" if not diff else "differ: " + ", ".join(
                    "%s %s vs %s" % (k, first.get(k), second.get(k)) for k in diff)))
            summary[w]["counts_differ"] = diff

    with open(os.path.join(OUT, "steadiness.json"), "w") as fh:
        json.dump(summary, fh, indent=1)


if __name__ == "__main__":
    main()
