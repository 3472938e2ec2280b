#!/usr/bin/env python3
"""Steadiness check: run workloads repeatedly and print each metric's spread.

    python3 perfbench/steady.py [--workloads bulk,probe,churn] [--runs 10]
        [--seed0 1] [--seconds S] [--traced] [--out FILE]

Each run gets its own seed (seed0, seed0+1, ...). For every end-to-end
metric the script prints the median and the first and third quartiles
(Python's statistics.quantiles, n=4) across the runs, and the spread
(q3 - q1) / median next to the metric's bound from BENCHMARK.json. A metric
whose spread is not within its bound is flagged. With --traced each seed is
also run with --trace 1; the traced run's own end-to-end figures (kept in
its trace file) give the tracing overhead, (traced - untraced) / untraced
per metric, and the medians of the per-layer metrics are printed too.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    if p.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {p.returncode}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    if trace:
        path = os.path.join(HERE, "target", "traces", f"{workload}-seed{seed}.json")
        with open(path) as f:
            res["trace"] = json.load(f)
    return res


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--out")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    summary = {}
    ok = True
    for w in a.workloads.split(","):
        runs = [run(w, a.seed0 + k, a.seconds, 0) for k in range(a.runs)]
        shares = {r["failed"] / r["attempted"] for r in runs}
        print(f"== {w}: {a.runs} runs, seeds {a.seed0}..{a.seed0 + a.runs - 1}, "
              f"correct={all(r['correct'] for r in runs)}, failed share {sorted(shares)}")
        print(f"   {'metric':24} {'median':>14} {'q1':>14} {'q3':>14} {'spread':>7} {'bound':>6}")
        rows = {}
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in runs]
            med, q1, q3, sp = spread(vals)
            flag = "" if name == "setup_s" or sp <= bound else "  OVER BOUND"
            ok = ok and (flag == "")
            rows[name] = {"median": med, "q1": q1, "q3": q3, "spread": sp}
            print(f"   {name:24} {med:14.4f} {q1:14.4f} {q3:14.4f} {sp:7.3f} {bound:6.2f}{flag}")
        summary[w] = {"end_to_end": rows, "correct": all(r["correct"] for r in runs),
                      "runs": [{n: r["metrics"][n]["value"] for n in bounds} for r in runs],
                      "attempted": [r["attempted"] for r in runs],
                      "failed": [r["failed"] for r in runs]}
        if a.traced:
            traced = [run(w, a.seed0 + k, a.seconds, 1) for k in range(a.runs)]
            over = {}
            print(f"   tracing overhead (traced / untraced medians - 1):")
            for name in bounds:
                tv = [t["trace"]["end_to_end_traced"].get(name) for t in traced]
                tv = [v for v in tv if v is not None]
                if len(tv) >= 2:
                    over[name] = statistics.median(tv) / rows[name]["median"] - 1
                    print(f"     {name:24} {over[name]:+.3f}")
            layer = {}
            for name in traced[0]["metrics"]:
                vals = [t["metrics"][name]["value"] for t in traced]
                layer[name] = statistics.median(vals)
            print("   per-layer medians:")
            for name, v in layer.items():
                print(f"     {name:40} {v:.4f}")
            summary[w]["trace_overhead"] = over
            summary[w]["per_layer"] = layer
    if a.out:
        with open(a.out, "w") as f:
            json.dump(summary, f, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
