#!/usr/bin/env python3
"""Interleaved parent-vs-change perfbench pairs.

    python3 tools/perfbench_pairs.py PARENT_DIR CHANGE_DIR \\
        --workload cdc_replay --seeds 2601 2602 ... --seconds 15 \\
        [--trace 0] [--metrics write_amp op_p50_ms ...] [--json out.json]

PARENT_DIR and CHANGE_DIR are two checkouts of the repository. For each
seed the tool runs `python3 perfbench/run.py` once in each checkout, with
the same arguments; the side that runs first alternates from pair to pair
(the parent in pairs 1, 3, 5, ...). It then prints, per end-to-end metric,
every run's value, each side's median with its quartiles (Q1-Q3, the
exclusive method), the change in the median and in how many pairs the
change was better (ties count for neither side), and whether the change
median is inside the metric's `bound` of the parent median. The metrics,
their directions and bounds come from PARENT_DIR/BENCHMARK.json. A run that
printed no result, was not `correct` or failed an op is bad: it is listed,
left out of the medians (and its pair out of the win count), and the tool
exits 1. --json keeps every raw result line and each run's `perfbench:`
log lines on disk, rewritten after each pair.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys


def run_one(checkout, workload, seed, seconds, trace):
    """Runs perfbench once in `checkout`; returns its result line or None,
    and its `perfbench:` log lines (loop bytes, op count, op latencies)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True)
    log = [l for l in proc.stderr.splitlines() if l.startswith("perfbench:")]
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    if not lines:
        sys.stderr.write(proc.stderr[-2000:])
        return None, log
    return json.loads(lines[-1]), log


def quartiles(xs):
    """(Q1, median, Q3), the exclusive method; a single value is all three."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="exclusive")
    return q1, med, q3


def fmt(x):
    return f"{x:.4g}" if abs(x) < 1000 else f"{x:.0f}"


def good(run):
    """A run counts only if it printed a result, is correct and failed no op."""
    return bool(run) and run["correct"] and not run["failed"]


def inside_bound(pmed, cmed, better, bound):
    """Whether the change median is no worse than `bound` (a fraction) of
    the parent median in the metric's direction; None without a bound."""
    if bound is None:
        return None
    if better == "lower":
        return cmed <= pmed * (1.0 + bound)
    return cmed >= pmed * (1.0 - bound)


def report(results, metrics, better, bounds):
    """Markdown tables of the per-run values and the per-metric summary.
    Returns whether every run was good."""
    bad = [(r["seed"], side) for r in results for side in ("parent", "change")
           if not good(r[side])]
    pairs = [r for r in results if good(r["parent"]) and good(r["change"])]
    print("| seed | first | " + " | ".join(f"{m} parent | {m} change"
                                           for m in metrics) + " |")
    print("|---|---|" + "---|---|" * len(metrics))
    for r in results:
        cells = []
        for m in metrics:
            cells += [fmt(r[s]["metrics"][m]["value"]) if good(r[s]) else "bad"
                      for s in ("parent", "change")]
        print(f"| {r['seed']} | {r['first']} | " + " | ".join(cells) + " |")
    print()
    print("| metric | parent median (Q1-Q3) | change median (Q1-Q3) | "
          "delta median | change better | inside bound |")
    print("|---|---|---|---|---|---|")
    for m in metrics:
        p = [r["parent"]["metrics"][m]["value"] for r in results
             if good(r["parent"])]
        c = [r["change"]["metrics"][m]["value"] for r in results
             if good(r["change"])]
        if not p or not c:
            continue
        pq1, pmed, pq3 = quartiles(p)
        cq1, cmed, cq3 = quartiles(c)
        sign = -1.0 if better[m] == "lower" else 1.0
        wins = sum(1 for r in pairs if sign * (
            r["change"]["metrics"][m]["value"] -
            r["parent"]["metrics"][m]["value"]) > 0)
        delta = (cmed - pmed) / pmed * 100.0 if pmed else float("nan")
        inside = inside_bound(pmed, cmed, better[m], bounds.get(m))
        verdict = ("n/a" if inside is None else
                   f"{'yes' if inside else 'NO'} (±{bounds[m]:g})")
        print(f"| {m} | {fmt(pmed)} ({fmt(pq1)}-{fmt(pq3)}) | "
              f"{fmt(cmed)} ({fmt(cq1)}-{fmt(cq3)}) | {delta:+.1f}% | "
              f"{wins}/{len(pairs)} | {verdict} |")
    print()
    print(f"runs: {2 * len(results)}; every run correct with 0 failed ops: "
          f"{'yes' if not bad else 'no'}")
    for seed, side in bad:
        print(f"  seed {seed} {side}: no result, not correct or failed ops "
              "(left out of the medians)")
    return not bad


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("parent")
    p.add_argument("change")
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--metrics", nargs="+",
                   help="end-to-end metric names (default: all in BENCHMARK.json)")
    p.add_argument("--json", help="write every raw result line here")
    args = p.parse_args()
    with open(os.path.join(args.parent, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = bench["end_to_end"] + bench.get("per_layer", [])
    better = {m["name"]: m["better"] for m in declared}
    bounds = {m["name"]: m["bound"] for m in declared if "bound" in m}
    metrics = args.metrics or [m["name"] for m in bench["end_to_end"]]
    unknown = [m for m in metrics if m not in better]
    if unknown:
        p.error(f"unknown metrics: {', '.join(unknown)}")

    results = []
    for i, seed in enumerate(args.seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        r = {"seed": seed, "first": order[0]}
        for side in order:
            checkout = args.parent if side == "parent" else args.change
            r[side], r[side + "_log"] = run_one(
                checkout, args.workload, seed, args.seconds, args.trace)
            print(f"perfbench_pairs: seed {seed} {side} done", file=sys.stderr)
        results.append(r)
        if args.json:
            with open(args.json, "w") as f:
                json.dump({"workload": args.workload, "seconds": args.seconds,
                           "trace": args.trace, "results": results}, f)
    print(f"{args.workload}, --seconds {args.seconds}, --trace {args.trace}, "
          f"seeds {' '.join(map(str, args.seeds))}")
    print()
    if not report(results, metrics, better, bounds):
        sys.exit(1)


if __name__ == "__main__":
    main()
