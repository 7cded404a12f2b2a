#!/usr/bin/env python3
"""Steadiness check: runs each workload in two independent sets of runs
and reports, per end-to-end metric, each set's median and quartiles,
the spread (interquartile range over median) and whether the two sets
agree within the metric's bound from BENCHMARK.json.

    python3 perfbench/steady.py [--workloads a,b] [--runs 5]
                                [--seconds S] [--out FILE]

The runs of the two sets alternate (A1 B1 A2 B2 ...) and every run has
its own seed. A metric fails when its spread in either set exceeds its
bound (setup_s excepted: only its medians are compared) or when set B's
median is worse than set A's by more than the bound. Exit status 1 when
any metric fails. The bounds are read, never changed.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload, seed, seconds, trace=0, cores=4):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
         "--cores", str(cores)], cwd=ROOT, capture_output=True, text=True)
    if proc.returncode != 0:
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}\n"
                         f"{proc.stderr[-2000:]}")
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    if not res["correct"]:
        print(proc.stdout, file=sys.stderr)
    return res


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf"),
            "values": values}


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        cfg = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in cfg["workloads"]))
    ap.add_argument("--runs", type=int, default=5, help="runs per set")
    ap.add_argument("--seconds", type=float, default=cfg["run_seconds"])
    ap.add_argument("--out", default=None, help="write the summary as JSON")
    a = ap.parse_args()

    report, ok = {}, True
    for w in a.workloads.split(","):
        sets = {"A": [], "B": []}
        for i in range(a.runs):
            for s, base in (("A", 1000), ("B", 2000)):
                seed = base + i
                res = run_once(w, seed, a.seconds)
                sets[s].append(res)
                ok &= res["correct"]
                print(f"{w} set {s} seed {seed}: correct={res['correct']} "
                      + " ".join(f"{k}={v['value']:.6g}"
                                 for k, v in res["metrics"].items()),
                      flush=True)
        report[w] = {}
        print(f"\n{w}: {a.runs} runs per set")
        print(f"  {'metric':18s} {'set':3s} {'median':>12s} {'q1':>12s} "
              f"{'q3':>12s} {'spread':>8s} {'bound':>6s}  verdict")
        for m in cfg["end_to_end"]:
            name, bound = m["name"], m["bound"]
            sa = summary([r["metrics"][name]["value"] for r in sets["A"]])
            sb = summary([r["metrics"][name]["value"] for r in sets["B"]])
            worse = ((sb["median"] - sa["median"]) / sa["median"]
                     if m["better"] == "lower"
                     else (sa["median"] - sb["median"]) / sa["median"])
            steady = name == "setup_s" or max(sa["spread"], sb["spread"]) <= bound
            agree = worse <= bound
            verdict = ("ok" if steady and agree else
                       ("SPREAD>BOUND " if not steady else "") +
                       ("SETS DISAGREE" if not agree else ""))
            ok &= steady and agree
            for s, sm in (("A", sa), ("B", sb)):
                print(f"  {name:18s} {s:3s} {sm['median']:12.6g} "
                      f"{sm['q1']:12.6g} {sm['q3']:12.6g} "
                      f"{sm['spread']:8.4f} {bound:6.2f}"
                      + (f"  {verdict} (B vs A {worse:+.4f})" if s == "B"
                         else ""))
            report[w][name] = {"unit": m["unit"], "bound": bound, "A": sa,
                               "B": sb, "b_worse_by": worse,
                               "steady": steady, "agree": agree}
        sys.stdout.flush()
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)
    print("\nsteady" if ok else "\nNOT STEADY")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
