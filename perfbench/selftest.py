#!/usr/bin/env python3
"""Self-test: the batch workloads' outputs must not depend on the seed.

    python3 perfbench/selftest.py [--seeds 1,2]

Runs tweet_reports and llm_iterative once per seed (the seed permutes
the op order of every pass) and asserts that every result table is
identical across the seeds, row for row. A difference means a query's
result depends on what ran before it in the session. Exit status 1 on
any difference or failed run.
"""
import argparse
import glob
import os
import sys

import pandas as pd

from run import run_dir
from steady import run_once

OUTPUTS = {"tweet_reports": "reports/*/parquet/*", "llm_iterative": "llm/*"}


def tables(workload, seed):
    root = run_dir(workload, seed, 0, 4)
    out = {}
    for d in sorted(glob.glob(os.path.join(root, OUTPUTS[workload]))):
        files = sorted(glob.glob(os.path.join(d, "*.parquet")))
        if files:
            out[os.path.relpath(d, root)] = pd.concat(
                [pd.read_parquet(f) for f in files]).reset_index(drop=True)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", default="1,2")
    ap.add_argument("--seconds", type=float, default=1)
    a = ap.parse_args()
    seeds = [int(s) for s in a.seeds.split(",")]
    ok = True
    for w in OUTPUTS:
        outs = []
        for s in seeds:
            res = run_once(w, s, a.seconds)
            ok &= res["correct"]
            outs.append(tables(w, s))
        base = outs[0]
        for s, other in zip(seeds[1:], outs[1:]):
            if sorted(base) != sorted(other):
                print(f"FAIL {w}: seed {s} wrote {sorted(other)}, "
                      f"seed {seeds[0]} wrote {sorted(base)}")
                ok = False
                continue
            for name, df in base.items():
                same = df.equals(other[name])
                ok &= same
                print(f"{'PASS' if same else 'FAIL'} {w} {name}: "
                      f"{len(df)} rows, seeds {seeds[0]} and {s}")
    print("identical" if ok else "DIFFERENT")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
