#!/usr/bin/env python3
"""Alternating A/B runs of one perfbench workload between two checkouts.

    python3 plans/release_once/pairs.py <parent checkout> <change checkout> \\
        [--pairs 10] [--workload release] [--seed 7] [--out pairs.json]

Each pair runs `python3 perfbench/run.py --workload W --seed S --seconds 10
--trace 0` once in each checkout, each a fresh JVM; the first side of a
pair alternates (ABBA) so slow drift in host load does not favour one side.
Prints one line per pair and, at the end, the medians, the parent's
interquartile range and the change's wins on each end-to-end metric, with
a verdict: a gain is shown when the change wins at least 9 of 10 pairs
(ties count for neither side) and its median beats the parent's by more
than the parent's interquartile range.

`--out` is rewritten after every completed pair. A run that fails or
fails its output check stops the script, naming the pair and the side;
the pairs completed before it stay in `--out`, with the failure.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

METRICS = (("latency_p50_ms", "lower"), ("latency_p90_ms", "lower"),
           ("throughput_per_s", "higher"), ("setup_s", "lower"))


class RunFailed(Exception):
    pass


def one(checkout, workload, seed):
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "10", "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    if r.returncode != 0:
        raise RunFailed(f"exit {r.returncode}: {r.stderr.strip()[-2000:]}")
    try:
        res = json.loads(r.stdout.strip().splitlines()[-1])
    except (IndexError, ValueError):
        raise RunFailed(f"no result line: {r.stdout.strip()[-2000:]}")
    if not res.get("correct") or res.get("failed"):
        raise RunFailed(f"run not correct: {res}")
    return {k: res["metrics"][k]["value"] for k, _ in METRICS}


def quartiles(xs):
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def save(a, pairs, **extra):
    if a.out:
        tmp = a.out + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "pairs": pairs, **extra},
                      f, indent=1)
        os.replace(tmp, a.out)


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
        got = {}
        for side in order:
            try:
                got[side] = one(getattr(a, side), a.workload, a.seed)
            except RunFailed as e:
                failed = {"pair": i + 1, "side": side, "error": str(e)}
                save(a, pairs, failed=failed)
                sys.exit(f"pair {i + 1}, {side} side ({getattr(a, side)}) failed: {e}")
        pairs.append({"first": order[0], **got})
        save(a, pairs)
        print(f"pair {i + 1:2d} first={order[0]:6s} " + "  ".join(
            f"{k} {got['parent'][k]:.2f} -> {got['change'][k]:.2f}" for k, _ in METRICS),
            flush=True)
    summary = {}
    for k, better in METRICS:
        p = [x["parent"][k] for x in pairs]
        c = [x["change"][k] for x in pairs]
        wins = sum((cv < pv) if better == "lower" else (cv > pv) for pv, cv in zip(p, c))
        q1, q3 = quartiles(p)
        pm, cm = statistics.median(p), statistics.median(c)
        gain = (pm - cm) if better == "lower" else (cm - pm)
        shown = wins * 10 >= 9 * len(pairs) and gain > q3 - q1
        summary[k] = {"parent_median": pm, "change_median": cm,
                      "parent_iqr": q3 - q1, "change_wins": wins, "pairs": len(pairs),
                      "gain_shown": shown}
        print(f"{k}: median {pm:.2f} -> {cm:.2f}, parent IQR {q3 - q1:.2f}, "
              f"change wins {wins}/{len(pairs)}; gain "
              f"{'shown' if shown else 'not shown'} (median gain {gain:.2f})")
    save(a, pairs, summary=summary)


if __name__ == "__main__":
    main()
