#!/usr/bin/env python3
"""Writes the baseline record, perfbench/baseline.json and
perfbench/BASELINE.md, from a steadiness summary plus fresh runs:

    python3 perfbench/steady.py --runs 5 --out .bench_build/steady.json
    python3 perfbench/baseline.py --steady .bench_build/steady.json

Per workload it records the median and quartiles of every end-to-end
metric (both steadiness sets pooled), two traced runs (seeds 1 and 2:
per-layer metrics, self time per span kind, whether the count metrics
repeat exactly, and the tracing overhead against the untraced median),
and one single-threaded local[1] run.
"""
import argparse
import json
import os
import statistics
import sys
from collections import defaultdict

from run import run_dir
from steady import run_once

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# counts that must repeat exactly between runs of the same code
EXACT = ("tables.read_jobs", "sched.jobs", "plan.exchanges",
         "plan.broadcasts", "plan.graft_execs", "plan.cached_scans")


def self_by_kind(workload, seed):
    totals = defaultdict(float)
    with open(os.path.join(run_dir(workload, seed, 1, 4), "spans.jsonl")) as f:
        for line in f:
            s = json.loads(line)
            totals[s["kind"]] += s["self_ms"]
    return dict(totals)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--steady", required=True)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        cfg = json.load(f)
    with open(a.steady) as f:
        steady = json.load(f)
    secs = cfg["run_seconds"]
    record, md = {}, ["# perfbench baseline", ""]
    for w in (x["name"] for x in cfg["workloads"]):
        rec = {"end_to_end": {}, "traced": {}, "local1": {}}
        for name, s in steady[w].items():
            vals = s["A"]["values"] + s["B"]["values"]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            rec["end_to_end"][name] = {"unit": s["unit"], "median": med,
                                       "q1": q1, "q3": q3, "runs": len(vals)}
        traced = [run_once(w, seed, secs, trace=1) for seed in (1, 2)]
        layers = [{k: v["value"] for k, v in t["metrics"].items()}
                  for t in traced]
        self_ms = self_by_kind(w, 1)
        untraced = rec["end_to_end"]["pass_s"]["median"]
        traced_pass = statistics.median(l["trace.pass_s"] for l in layers)
        rec["traced"] = {
            "correct": all(t["correct"] for t in traced),
            "layers": layers[0],
            "self_ms_by_kind": self_ms,
            "self_sum_ms": layers[0]["trace.self_sum_ms"],
            "wall_ms": layers[0]["trace.wall_ms"],
            "exact_counts_repeat": {k: layers[0][k] == layers[1][k]
                                    for k in EXACT},
            "overhead_pass_s": traced_pass - untraced,
            "overhead_pass_ratio": traced_pass / untraced - 1,
        }
        try:
            local1 = run_once(w, 1, secs, cores=1)
            rec["local1"] = {"correct": local1["correct"], **{
                k: v["value"] for k, v in local1["metrics"].items()}}
        except SystemExit as e:  # recorded, not fatal: a baseline figure
            rec["local1"] = {"correct": False, "error": str(e)[-500:]}
        record[w] = rec

        md += [f"## {w}", "",
               "| metric | unit | median | q1 | q3 | runs | local[1] |",
               "|---|---|---|---|---|---|---|"]
        for name, e in rec["end_to_end"].items():
            md.append(f"| {name} | {e['unit']} | {e['median']:.4g} | "
                      f"{e['q1']:.4g} | {e['q3']:.4g} | {e['runs']} | "
                      f"{rec['local1'].get(name, float('nan')):.4g} |")
        t = rec["traced"]
        md += ["", f"Traced run (seed 1): wall {t['wall_ms']:.0f} ms per pass, "
               f"self times sum to {t['self_sum_ms']:.0f} ms. Tracing overhead "
               f"on pass_s: {t['overhead_pass_s']:+.3f} s "
               f"({t['overhead_pass_ratio']:+.1%}).", "",
               "Self time per span kind over the whole timed region:", "",
               "| span kind | self ms | share |", "|---|---|---|"]
        total = sum(self_ms.values())
        for k, v in sorted(self_ms.items(), key=lambda kv: -kv[1]):
            md.append(f"| {k} | {v:.0f} | {v / total:.1%} |")
        md += ["", "| layer metric | value |", "|---|---|"]
        for k, v in layers[0].items():
            if v:
                md.append(f"| {k} | {v:.6g} |")
        md += ["", "Counts repeated exactly in a second traced run: " +
               ", ".join(f"{k} {'yes' if v else 'NO'}"
                         for k, v in t["exact_counts_repeat"].items()), ""]
        print(f"{w}: done", flush=True)
    with open(os.path.join(HERE, "baseline.json"), "w") as f:
        json.dump(record, f, indent=1)
    with open(os.path.join(HERE, "BASELINE.md"), "w") as f:
        f.write("\n".join(md))
    ok = all(r["traced"]["correct"] and r["local1"]["correct"]
             and all(r["traced"]["exact_counts_repeat"].values())
             and r["traced"]["self_sum_ms"] <= r["traced"]["wall_ms"] * 1.0001
             for r in record.values())
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
