#!/usr/bin/env python3
"""Paired A/B of one workload: the parent's engine against the change's.

    python3 perfbench/ab.py --parent ../parent-checkout [--change .] \\
        --workload doc_lookup [--pairs 10]

Both sides run this checkout's benchmark program (identical benchmark code
and settings) against the engine sources of the named checkout, each in
its own build directory, for BENCHMARK.json's run_seconds. Pair i uses
seed `SEED0 + i` on both sides and runs the parent first when i is even
and the change first when i is odd.

For every end-to-end metric it prints each side's median and quartiles
and the change's win fraction over the pairs (ties count for neither
side), and says whether a gain may be claimed: the change wins at least
nine tenths of the pairs and the medians differ by more than the parent's
interquartile range.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
# seeds of the pairs start here, away from the small seeds used while tuning
SEED0 = 1000


def run_side(checkout, label, workload, seed, seconds):
    env = dict(os.environ, PERFBENCH_ENGINE_ROOT=os.path.abspath(checkout),
               CARGO_TARGET_DIR=os.path.join(os.path.dirname(HERE), ".bench_build", "ab", label))
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       capture_output=True, text=True, env=env)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{label} run failed (seed {seed})")
    r = json.loads(lines[-1])
    if not r["correct"]:
        raise SystemExit(f"{label} run produced wrong output (seed {seed}): {r}")
    return {k: v["value"] for k, v in r["metrics"].items()}


def quartiles(xs):
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
    return q[0], statistics.median(xs), q[2]


def main():
    ap = argparse.ArgumentParser(description="paired parent/change A/B of one workload")
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", default=os.path.dirname(HERE))
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    a = ap.parse_args()
    if a.pairs < 10:
        raise SystemExit("a claim needs at least ten pairs")
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    runs = {"parent": [], "change": []}
    for i in range(a.pairs):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            checkout = a.parent if side == "parent" else a.change
            runs[side].append(run_side(checkout, side, a.workload, SEED0 + i, seconds))
        print(f"pair {i} (seed {SEED0 + i}): " + "  ".join(
            f"{s} " + " ".join(f"{k}={v:.4g}" for k, v in runs[s][-1].items())
            for s in ("parent", "change")), flush=True)
    print(f"\n{a.workload}: {a.pairs} pairs, {seconds} s runs")
    for m, direction in better.items():
        p = [r[m] for r in runs["parent"]]
        c = [r[m] for r in runs["change"]]
        sign = 1 if direction == "higher" else -1
        wins = sum(1 for x, y in zip(p, c) if sign * (y - x) > 0)
        pq, cq = quartiles(p), quartiles(c)
        gain = wins >= 0.9 * a.pairs and sign * (cq[1] - pq[1]) > pq[2] - pq[0]
        print(f"{m:30s} parent {pq[1]:.4g} [{pq[0]:.4g}, {pq[2]:.4g}]  "
              f"change {cq[1]:.4g} [{cq[0]:.4g}, {cq[2]:.4g}]  "
              f"change wins {wins}/{a.pairs}  {'GAIN' if gain else 'no claim'}")


if __name__ == "__main__":
    main()
