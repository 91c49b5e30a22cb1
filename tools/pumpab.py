#!/usr/bin/env python3
"""Alternating parent/change pairs of the repo benchmark, and the verdict.

    python3 tools/pumpab.py PARENT_DIR CHANGE_DIR --workload queue_sweep \\
        --seeds 1221-1230 [--seconds 20]

For each seed, runs `python3 pumpbench/run.py --workload W --seed S
--seconds N --trace 0` once in each checkout, alternating which side
runs first (the parent leads on even pair indices). Stops with exit 1
when a run cannot produce a result or reports `"correct": false`.

Prints every pair's values, then per end-to-end metric of BENCHMARK.json
(read from PARENT_DIR): each side's q1/median/q3, the change's wins (the
direction comes from the metric's `better` field; ties count for
neither side), the median change against the metric's `bound`, and
whether a claimed gain would hold: the change wins at least nine tenths
of the pairs and its median beats the parent's by more than the parent's
interquartile range. The last line is the whole report as one JSON
object. Reads `pumpbench/` and `BENCHMARK.json`, writes to neither.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def seed_list(text):
    """`1221-1230` or `1221,1225,1240`."""
    if "-" in text:
        lo, hi = (int(x) for x in text.split("-", 1))
        return list(range(lo, hi + 1))
    return [int(x) for x in text.split(",")]


def run(checkout, workload, seed, seconds):
    """One untraced benchmark run in `checkout`; returns its metric values."""
    proc = subprocess.run(
        [sys.executable, "pumpbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.exit(f"pumpab: no result from {checkout} seed {seed} "
                 f"(exit {proc.returncode}):\n{proc.stderr[-2000:]}")
    if not res.get("correct"):
        sys.exit(f"pumpab: {checkout} seed {seed} reported correct=false: "
                 f"{lines[-2] if len(lines) > 1 else ''}"[:4000])
    return {k: v["value"] for k, v in res["metrics"].items()}


def quartiles(xs):
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def verdict(metric, parent, change):
    """Per-metric summary of paired values (lists in pair order)."""
    lower = metric["better"] == "lower"
    wins = sum((c < p) if lower else (c > p) for p, c in zip(parent, change))
    pq, cq = quartiles(parent), quartiles(change)
    gap = (pq[1] - cq[1]) if lower else (cq[1] - pq[1])
    iqr = pq[2] - pq[0]
    rel = (cq[1] - pq[1]) / pq[1] if pq[1] else 0.0
    worse = rel > metric["bound"] if lower else -rel > metric["bound"]
    return {"better": metric["better"], "parent_q": pq, "change_q": cq,
            "wins": wins, "pairs": len(parent), "median_rel": rel,
            "bound": metric["bound"], "worse_than_bound": worse,
            "parent_iqr": iqr, "median_gap": gap,
            "gain_holds": wins * 10 >= 9 * len(parent) and gap > iqr}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=seed_list)
    ap.add_argument("--seconds", type=float, default=20)
    args = ap.parse_args()
    if len(args.seeds) < 2:
        sys.exit("pumpab: quartiles need at least two seeds")

    spec = json.loads((Path(args.parent) / "BENCHMARK.json").read_text())
    metrics = spec["end_to_end"]
    sides = {"parent": args.parent, "change": args.change}
    pairs = []
    for i, seed in enumerate(args.seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        got = {side: run(sides[side], args.workload, seed, args.seconds)
               for side in order}
        pairs.append({"seed": seed, "first": order[0], **got})
        print(f"pair {i + 1} seed {seed} ({order[0]} first): " + "  ".join(
            f"{m['name']} {got['parent'][m['name']]:.4g}"
            f"->{got['change'][m['name']]:.4g}" for m in metrics), flush=True)

    report = {}
    for m in metrics:
        name = m["name"]
        v = verdict(m, [p["parent"][name] for p in pairs],
                    [p["change"][name] for p in pairs])
        report[name] = v
        fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
        print(f"{name} ({m['better']} is better): parent {fmt(v['parent_q'])}"
              f" change {fmt(v['change_q'])} (q1/median/q3); "
              f"wins {v['wins']}/{v['pairs']}; median {v['median_rel']:+.1%}"
              f" (bound {v['bound']:.0%}"
              f"{', WORSE' if v['worse_than_bound'] else ''}); "
              f"gap {v['median_gap']:.4g} vs parent IQR "
              f"{v['parent_iqr']:.4g}: gain "
              f"{'holds' if v['gain_holds'] else 'does not hold'}")
    print(json.dumps({"workload": args.workload, "pairs": pairs,
                      "metrics": report}))


if __name__ == "__main__":
    main()
