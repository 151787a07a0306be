#!/usr/bin/env python3
"""Paired benchmark runs of two checkouts, with the gain verdict.

Usage:

    python3 tools/bench_pairs.py --parent <checkout> --change <checkout> \\
        --workload <serve_mixed|stream_ingest> --seeds 22-31 [--seconds 15] [--trace 0|1]

For every seed it runs ``python3 <checkout>/perfbench/run.py`` once on each
side, from inside that checkout, so each side is built from its own
sources. The side that runs first alternates from pair to pair. Each run
prints one ``run`` line (seed, side, ``correct``, ``failed``, the run's
metrics and its calibration probes). At the end, for every metric the
runs report (the end-to-end list of the parent's ``BENCHMARK.json``, or
its per-layer list with ``--trace 1``), it prints each side's median and
quartiles, the pairs the change won, the change against the metric's
bound, and the verdict of the gain rule: the change wins at least nine
tenths of the pairs (ties count for neither side) and the medians differ
by more than the distance between the parent's quartiles.

This script only calls the benchmark; it changes nothing under perfbench/.
"""

import argparse
import json
import math
import os
import statistics
import subprocess
import sys

MIN_PAIRS = 10


def quartiles(xs):
    """(q1, median, q3) of ``xs``, inclusive method."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(parent, change, better):
    """The gain rule over paired values; pair ``i`` is one seed on both sides.

    Returns a dict: ``wins`` (pairs the change won; ties count for
    neither), ``pairs``, ``gap`` (parent median minus change median, signed
    so that positive means the change is better), ``parent_iqr`` and
    ``gain`` (at least ``MIN_PAIRS`` pairs, wins in at least nine tenths of
    them, and ``gap`` above ``parent_iqr``).
    """
    if len(parent) != len(change) or not parent:
        raise ValueError("need the same, non-zero number of runs on both sides")
    if better not in ("lower", "higher"):
        raise ValueError(f"better must be 'lower' or 'higher', not {better!r}")
    sign = 1 if better == "lower" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    pq1, pmed, pq3 = quartiles(parent)
    gap = sign * (pmed - statistics.median(change))
    n = len(parent)
    return {
        "wins": wins, "pairs": n, "gap": gap, "parent_iqr": pq3 - pq1,
        "gain": n >= MIN_PAIRS and 10 * wins >= 9 * n and gap > pq3 - pq1,
    }


def worse_by(parent, change, better):
    """How much worse the change's median is than the parent's, as a share
    of the parent's median (negative when the change is better)."""
    pmed, cmed = statistics.median(parent), statistics.median(change)
    if pmed == 0:
        return math.inf if cmed != pmed else 0.0
    sign = 1 if better == "lower" else -1
    return sign * (cmed - pmed) / abs(pmed)


def parse_seeds(text):
    """``"22-31"`` or ``"11,13,20-22"`` to a list of ints."""
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(checkout, workload, seed, seconds, trace):
    """One benchmark run; returns (summary JSON, {metric: value}, the
    run's calibration probes) or raises."""
    cmd = [sys.executable, os.path.join(checkout, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, stdin=subprocess.DEVNULL,
                          capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{checkout} seed {seed}: exit {proc.returncode}\n"
                           + proc.stderr[-2000:])
    named, calib = {}, None
    for line in lines:
        parts = line.split()
        if len(parts) == 4 and parts[0] == "metric" and parts[2] != "n/a":
            named[parts[1]] = float(parts[2])
        elif line.startswith("record "):
            calib = json.loads(line[len("record "):]).get("calib")
    return json.loads(lines[-1]), named, calib


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=parse_seeds)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    with open(os.path.join(sides["parent"], "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}

    runs = {"parent": [], "change": []}
    ok = {"parent": [], "change": []}
    for i, seed in enumerate(args.seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            summary, named, calib = run_once(sides[side], args.workload, seed,
                                             args.seconds, args.trace)
            values = {k: m["value"] for k, m in summary["metrics"].items()}
            runs[side].append(values)
            ok[side].append(summary["correct"] and summary["failed"] == 0)
            print("run " + json.dumps({"seed": seed, "side": side, "correct": summary["correct"],
                                       "failed": summary["failed"], "metrics": values,
                                       "named": named, "calib": calib}, sort_keys=True),
                  flush=True)

    print(f"== {args.workload}, {len(args.seeds)} pairs, seeds {args.seeds}")
    for side, flags in ok.items():
        print(f"{side}: {sum(flags)}/{len(flags)} runs correct with 0 failed")
    for name in runs["parent"][0]:
        p = [r[name] for r in runs["parent"]]
        c = [r[name] for r in runs["change"]]
        b = better[name]
        v = verdict(p, c, b)
        pq, cq = quartiles(p), quartiles(c)
        bound = next((m["bound"] for m in bench["end_to_end"] if m["name"] == name), None)
        over = worse_by(p, c, b)
        print(f"{name} ({b} is better): parent {pq[1]:.6g} [q {pq[0]:.6g}, {pq[2]:.6g}] "
              f"change {cq[1]:.6g} [q {cq[0]:.6g}, {cq[2]:.6g}]; "
              f"change won {v['wins']}/{v['pairs']}; gap {v['gap']:.6g} vs parent IQR "
              f"{v['parent_iqr']:.6g}; worse by {100 * over:+.1f}%"
              + (f" (bound {100 * bound:.0f}%: {'within' if over <= bound else 'OVER'})"
                 if bound is not None else "")
              + f"; gain {'MET' if v['gain'] else 'not met'}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
