#!/usr/bin/env python3
"""Alternating A/B runs of one perfbench workload between two checkouts.

    python3 plans/release_once/pairs.py <parent checkout> <change checkout> \\
        [--pairs 10] [--workload release] [--seed 7] [--out pairs.json]

Each pair runs `python3 perfbench/run.py --workload W --seed S --seconds 10
--trace 0` once in each checkout, each a fresh JVM; the first side of a
pair alternates (ABBA) so slow drift in host load does not favour one side.
Prints one line per pair and, at the end, the medians, the parent's
interquartile range and the change's wins on each end-to-end metric.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

METRICS = (("latency_p50_ms", "lower"), ("latency_p90_ms", "lower"),
           ("throughput_per_s", "higher"), ("setup_s", "lower"))


def one(checkout, workload, seed):
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "10", "--trace", "0"],
        cwd=checkout, capture_output=True, text=True, check=True)
    res = json.loads(r.stdout.strip().splitlines()[-1])
    if not res.get("correct") or res.get("failed"):
        raise SystemExit(f"{checkout}: run not correct: {res}")
    return {k: res["metrics"][k]["value"] for k, _ in METRICS}


def quartiles(xs):
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workload", default="release")
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--out")
    a = ap.parse_args()
    pairs = []
    for i in range(a.pairs):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        got = {side: one(getattr(a, side), a.workload, a.seed) for side in order}
        pairs.append({"first": order[0], **got})
        print(f"pair {i + 1:2d} first={order[0]:6s} " + "  ".join(
            f"{k} {got['parent'][k]:.2f} -> {got['change'][k]:.2f}" for k, _ in METRICS),
            flush=True)
    summary = {}
    for k, better in METRICS:
        p = [x["parent"][k] for x in pairs]
        c = [x["change"][k] for x in pairs]
        wins = sum((cv < pv) if better == "lower" else (cv > pv) for pv, cv in zip(p, c))
        q1, q3 = quartiles(p)
        summary[k] = {"parent_median": statistics.median(p),
                      "change_median": statistics.median(c),
                      "parent_iqr": q3 - q1, "change_wins": wins, "pairs": len(pairs)}
        print(f"{k}: median {summary[k]['parent_median']:.2f} -> "
              f"{summary[k]['change_median']:.2f}, parent IQR {q3 - q1:.2f}, "
              f"change wins {wins}/{len(pairs)}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "pairs": pairs,
                       "summary": summary}, f, indent=1)


if __name__ == "__main__":
    main()
