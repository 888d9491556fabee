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
change was better (ties count for neither side). The metrics and their
directions come from PARENT_DIR/BENCHMARK.json. A run that printed no
result, was not `correct` or failed an op is listed. --json keeps every
raw result line and each run's `perfbench:` log lines on disk, rewritten
after each pair.
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


def report(results, metrics, better):
    """Markdown tables of the per-run values and the per-metric summary."""
    ok = [r for r in results if r["parent"] and r["change"]]
    bad = [(r["seed"], side) for r in results for side in ("parent", "change")
           if not r[side] or not r[side]["correct"] or r[side]["failed"]]
    print("| seed | first | " + " | ".join(f"{m} parent | {m} change"
                                           for m in metrics) + " |")
    print("|---|---|" + "---|---|" * len(metrics))
    for r in ok:
        cells = []
        for m in metrics:
            cells += [fmt(r[s]["metrics"][m]["value"]) for s in ("parent", "change")]
        print(f"| {r['seed']} | {r['first']} | " + " | ".join(cells) + " |")
    print()
    print("| metric | parent median (Q1-Q3) | change median (Q1-Q3) | "
          "delta median | change better |")
    print("|---|---|---|---|---|")
    for m in metrics:
        p = [r["parent"]["metrics"][m]["value"] for r in ok]
        c = [r["change"]["metrics"][m]["value"] for r in ok]
        if not p:
            continue
        pq1, pmed, pq3 = quartiles(p)
        cq1, cmed, cq3 = quartiles(c)
        sign = -1.0 if better[m] == "lower" else 1.0
        wins = sum(1 for a, b in zip(p, c) if sign * (b - a) > 0)
        delta = (cmed - pmed) / pmed * 100.0 if pmed else float("nan")
        print(f"| {m} | {fmt(pmed)} ({fmt(pq1)}-{fmt(pq3)}) | "
              f"{fmt(cmed)} ({fmt(cq1)}-{fmt(cq3)}) | {delta:+.1f}% | "
              f"{wins}/{len(p)} |")
    print()
    print(f"runs: {2 * len(results)}; every run correct with 0 failed ops: "
          f"{'yes' if not bad else 'no'}")
    for seed, side in bad:
        print(f"  seed {seed} {side}: no result, not correct or failed ops")


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
    better = {m["name"]: m["better"]
              for m in bench["end_to_end"] + bench.get("per_layer", [])}
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
    report(results, metrics, better)


if __name__ == "__main__":
    main()
