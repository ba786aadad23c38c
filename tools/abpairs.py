#!/usr/bin/env python3
"""A/B pairs of benchmark runs: a parent checkout against a changed one.

Usage: python3 tools/abpairs.py PARENT_DIR CHANGE_DIR --workload W
           [--seeds 2-11] [--seconds 10]

For each seed, runs `python3 perfbench/run.py --workload W --seed S
--seconds N --trace 0` once in each checkout, alternating which goes first
(the parent on even pair indexes, the change on odd), so a drift in the
machine's load falls on both sides. Then prints, per end-to-end metric of
CHANGE_DIR/BENCHMARK.json: each side's median and quartiles (IQR), the
change's relative move, how many pairs the change won (better in the
metric's direction), and whether the median gap exceeds the parent's IQR;
and the failed/attempted operation totals of each side. Each run's
per-round GET and job counts, flags and failed checks go to stderr. A run
that exits non-zero counts as a failed pair and is reported, not retried.

Each checkout builds its own `.bench_build/` on its first run.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


# stderr lines of a run worth keeping: per-round GET and job counts, flags
# and failed checks
RELAY = ("per round", "FLAG", "FAILED")


def run_once(checkout, workload, seed, seconds):
    """The result object of one run, or None when the run failed; relays
    the run's notable stderr lines."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdin=subprocess.DEVNULL, capture_output=True, text=True)
    for l in p.stderr.splitlines():
        if any(k in l for k in RELAY):
            print(f"[abpairs]   {l.strip()}", file=sys.stderr)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="2-11")
    ap.add_argument("--seconds", type=int, default=10)
    args = ap.parse_args()
    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        end_to_end = json.load(f)["end_to_end"]

    sides = {"parent": args.parent, "change": args.change}
    pairs = []  # (seed, {side: result or None})
    for i, seed in enumerate(seeds(args.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        got = {}
        for side in order:
            got[side] = run_once(sides[side], args.workload, seed, args.seconds)
            r = got[side]
            shown = "FAILED" if r is None else " ".join(
                f"{m['name']}={r['metrics'][m['name']]['value']}"
                for m in end_to_end if m["name"] in r["metrics"])
            print(f"[abpairs] seed {seed} {side}: {shown}", file=sys.stderr)
        pairs.append((seed, got))

    done = [g for _, g in pairs if g["parent"] and g["change"]]
    print(f"{args.workload}: {len(done)} of {len(pairs)} pairs complete "
          f"(seeds {args.seeds}, --seconds {args.seconds})")
    for m in end_to_end:
        name, lower = m["name"], m["better"] == "lower"
        vals = {s: [g[s]["metrics"][name]["value"] for g in done]
                for s in sides}
        if not done or any(v is None for s in sides for v in vals[s]):
            print(f"  {name}: no values")
            continue
        (p1, pm, p3), (c1, cm, c3) = (quartiles(vals["parent"]),
                                      quartiles(vals["change"]))
        wins = sum((c < p) if lower else (c > p)
                   for p, c in zip(vals["parent"], vals["change"]))
        move = (cm - pm) / pm * 100 if pm else float("nan")
        gap = abs(cm - pm) > p3 - p1
        print(f"  {name}: parent {pm:.3f} ({p1:.3f}-{p3:.3f}) -> change "
              f"{cm:.3f} ({c1:.3f}-{c3:.3f}) {move:+.1f}%, change better "
              f"in {wins}/{len(done)}, median gap "
              f"{'>' if gap else '<='} parent IQR {p3 - p1:.3f}")
    for s in sides:
        rs = [g[s] for _, g in pairs if g[s]]
        failed_runs = sum(1 for _, g in pairs if g[s] is None)
        print(f"  {s}: failed {sum(r['failed'] for r in rs)} / attempted "
              f"{sum(r['attempted'] for r in rs)} operations, "
              f"{failed_runs} failed runs")


if __name__ == "__main__":
    main()
