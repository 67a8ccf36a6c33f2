#!/usr/bin/env python3
"""Alternating parent/change A/B of one perfbench workload.

Usage:
    python3 tools/ab_pairs.py PARENT_CHECKOUT CHANGE_CHECKOUT --workload snapshot_bulk \\
        --seeds 2 3 4 5 6 7 8 9 10 11 [--seconds 10]

For each seed it runs `perfbench/run.py --trace 0` in both checkouts back to
back, so both sides of a pair share one window; the side that runs first
alternates from pair to pair.
It prints every run's four end-to-end metrics and `failed`, then per metric
the medians, the parent's IQR, the change's wins (by the metric's `better`
direction in BENCHMARK.json) and whether the pairs clear the acceptance
shape: at least 10 pairs, at least 9 wins in 10 and a median gap larger than
the parent's IQR. A run that failed or delivered a wrong record is named and
left out of the medians, the IQRs and the pairs; only pairs whose two runs
both delivered count.
Beside it stands the no-regression verdict a change that claims no gain is
judged by: `ok` when the change median is worse than the parent median by at
most the metric's BENCHMARK.json `bound` (a fraction of the parent median),
`worse` when by more, and `unresolved` when the parent's IQR/median exceeds
that bound, so the runs spread too widely to tell.
Exits 1 when any run failed or delivered a wrong record.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds):
    """The result object of one untraced run, or None when it failed."""
    cmd = [sys.executable, os.path.join(checkout, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def no_regression(pm, piqr, cm, sign, bound):
    """`ok`, `worse` or `unresolved`: is the change median `cm` within
    `bound` (relative) of the parent median `pm` in the bad direction?"""
    if pm == 0 or piqr / abs(pm) > bound:
        return "unresolved"
    return "ok" if -sign * (cm - pm) / abs(pm) <= bound else "worse"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=int, nargs="+")
    ap.add_argument("--seconds", type=int, default=10)
    a = ap.parse_args()

    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        spec = json.load(f)
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    bound = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    names = list(better)
    runs = {"parent": [], "change": []}
    failed = []
    print("seed  side    " + "  ".join(f"{n:>16}" for n in names) + "  failed")
    for i, seed in enumerate(a.seeds):
        sides = [("parent", a.parent), ("change", a.change)]
        for side, checkout in (sides if i % 2 == 0 else sides[::-1]):
            r = run(checkout, a.workload, seed, a.seconds)
            if r is None:
                print(f"{seed:4d}  {side:6s}  run failed", flush=True)
            else:
                values = {n: r["metrics"][n]["value"] for n in names}
                print(f"{seed:4d}  {side:6s}  " + "  ".join(f"{values[n]:16.3f}" for n in names)
                      + f"  {r.get('failed')}", flush=True)
            if r is None or r.get("failed", 1) != 0 or not r.get("correct", False):
                failed.append(f"seed {seed} {side}")
                runs[side].append(None)
            else:
                runs[side].append(values)

    print(f"\n{'metric':18s} {'parent p50':>12} {'parent IQR':>12} {'change p50':>12} "
          f"{'change IQR':>12} {'wins':>7}  clears  no-regression")
    pairs = [(p, c) for p, c in zip(runs["parent"], runs["change"]) if p and c]
    medians = any(runs["parent"]) and any(runs["change"])
    if not medians:
        print("(every run of one side failed: no medians)")
    for n in names if medians else []:
        ps = [r[n] for r in runs["parent"] if r]
        cs = [r[n] for r in runs["change"] if r]
        pm, cm = statistics.median(ps), statistics.median(cs)
        (p1, p3), (c1, c3) = quartiles(ps), quartiles(cs)
        sign = 1 if better[n] == "higher" else -1
        wins = sum(1 for p, c in pairs if sign * (c[n] - p[n]) > 0)
        clears = (len(pairs) >= 10 and wins * 10 >= 9 * len(pairs)
                  and sign * (cm - pm) > p3 - p1)
        print(f"{n:18s} {pm:12.3f} {p3 - p1:12.3f} {cm:12.3f} {c3 - c1:12.3f} "
              f"{wins:3d}/{len(pairs):<3d}  {'yes' if clears else 'no':6s}  "
              f"{no_regression(pm, p3 - p1, cm, sign, bound[n])}")
    if failed:
        print(f"\n{len(failed)} run(s) failed or delivered wrong records: "
              + ", ".join(failed), file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
