#!/usr/bin/env python3
"""Alternating A/B pairs of the pipeline benchmark across two checkouts.

    python3 dev/ab_pairs.py --base <checkout> --change <checkout> \\
        --workload ann_serve --seeds 7001-7010 [--seconds 8] [--trace 0] \\
        [--out pairs.json]

For each seed, runs `perfbench/run.py` once in each checkout, back to
back: the base runs first on the 1st, 3rd, ... seed and the change first
on the others, so a drift of the machine's load falls on both sides
alike. Each run builds and runs the benchmark of its own checkout. Then,
for every metric the run prints (the end-to-end metrics, or the
per-layer ones with --trace 1), it prints the median and quartiles per
side and how many pairs each side won, by the metric's direction in the
base checkout's BENCHMARK.json, and a verdict (see `verdict`). A run
whose outputs failed their checks is reported and left out of its pair.
--out writes every run's metrics as JSON. Nothing in either checkout is changed apart from what the
benchmark writes under its own perfbench/.work.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(checkout, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(base, change, lower, bound=None):
    """The verdict on one metric over complete pairs (base[i], change[i]):

    gain        the change wins at least 9 of 10 pairs (ties count for
                neither side) and its median beats the base's by more
                than the base's interquartile range;
    worse       the change's median is worse than the base's by more
                than `bound` (a fraction of the base median) -- or, for
                a metric without a bound, the base wins by the gain rule;
    unresolved  either side's interquartile range is wider than `bound`
                times the base median, unless every change run reads
                better than every base run;
    unchanged   otherwise.
    """
    n = len(base)
    if n == 0:
        return "unresolved"
    def better(x, y):  # x reads better than y
        return x < y if lower else x > y
    qa, qb = quartiles(base), quartiles(change)
    wins = sum(1 for x, y in zip(base, change) if better(y, x))
    losses = sum(1 for x, y in zip(base, change) if better(x, y))
    gap = abs(qb[1] - qa[1])
    if wins >= 0.9 * n and better(qb[1], qa[1]) and gap > qa[2] - qa[0]:
        return "gain"
    if bound is None:
        if losses >= 0.9 * n and better(qa[1], qb[1]) and gap > qb[2] - qb[0]:
            return "worse"
        return "unchanged"
    scale = abs(qa[1])
    if better(qa[1], qb[1]) and (gap > bound * scale if scale else gap > 0):
        return "worse"
    spread = max(qa[2] - qa[0], qb[2] - qb[0])
    if spread > bound * scale and not all(better(y, x) for x in base for y in change):
        return "unresolved"
    return "unchanged"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True, help="checkout of the parent")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 7001-7010 or 1,5,9")
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--out")
    args = ap.parse_args()
    sides = {"base": os.path.abspath(args.base), "change": os.path.abspath(args.change)}
    with open(os.path.join(sides["base"], "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    better = {m["name"]: m["better"]
              for m in bench["end_to_end"] + bench.get("per_layer", [])}
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"] if "bound" in m}

    runs = []  # (seed, {side: metrics or None})
    for i, seed in enumerate(seeds_of(args.seeds)):
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        got = {}
        for side in order:
            res = run_once(sides[side], args.workload, seed, args.seconds, args.trace)
            ok = res is not None and res.get("correct", False)
            got[side] = {k: v["value"] for k, v in res["metrics"].items()} if ok else None
            print(f"[ab] seed {seed} {side}: " +
                  ("ok" if ok else f"FAILED ({res and res.get('failed')})"),
                  file=sys.stderr, flush=True)
        runs.append((seed, got))

    pairs = [g for _, g in runs if g["base"] is not None and g["change"] is not None]
    print(f"{args.workload}: {len(pairs)} complete pairs of {len(runs)} seeds "
          f"(base first on odd-numbered pairs)")
    names = list(pairs[0]["base"]) if pairs else []
    def fmt(q):
        return f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"
    print(f"{'metric':<28} {'base median [q1, q3]':>32} {'change median [q1, q3]':>32} "
          f"{'wins':>7} {'lost':>5} {'delta':>8}  verdict")
    for n in names:
        a = [p["base"][n] for p in pairs]
        b = [p["change"][n] for p in pairs]
        lower = better.get(n, "lower") == "lower"
        wins = sum(1 for x, y in zip(a, b) if (y < x if lower else y > x))
        losses = sum(1 for x, y in zip(a, b) if (y > x if lower else y < x))
        qa, qb = quartiles(a), quartiles(b)
        delta = (qb[1] - qa[1]) / qa[1] * 100 if qa[1] else 0.0
        print(f"{n:<28} {fmt(qa):>32} {fmt(qb):>32} "
              f"{wins:>3}/{len(pairs):<3} {losses:>5} {delta:>+7.1f}%  "
              f"{verdict(a, b, lower, bounds.get(n))}")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump([{"seed": s, **g} for s, g in runs], fh, indent=1)


if __name__ == "__main__":
    main()
