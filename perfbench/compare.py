#!/usr/bin/env python3
"""Spread of a set of benchmark runs, and the bound check between two sets.

    python3 perfbench/compare.py RUNS_DIR              # medians and spreads
    python3 perfbench/compare.py BASE_DIR NEW_DIR      # ... and regressions

A runs directory holds the `<workload>-s<seed>-t0.metrics.json` files that
untraced runs leave in .bench_build/perfbench/runs/. For every end-to-end
metric of BENCHMARK.json and every workload this prints the median over the
seeds, the spread (interquartile range over the median) and, given a second
set, how far its median is worse than the first's and whether that exceeds
the metric's bound. Exits 1 when any metric regressed.
"""

import glob
import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402

NAME = re.compile(r"(?P<workload>.+)-s(?P<seed>\d+)-t0\.metrics\.json$")


def load(runs_dir):
    """workload -> metric -> values, one per seed."""
    out = {}
    for path in sorted(glob.glob(os.path.join(runs_dir, "*-t0.metrics.json"))):
        m = NAME.search(os.path.basename(path))
        with open(path) as f:
            for k, v in json.load(f).items():
                out.setdefault(m["workload"], {}).setdefault(k, []).append(v)
    return out


def main(argv):
    if len(argv) not in (1, 2):
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    sets = [load(d) for d in argv]
    regressed = False
    for workload in sorted(sets[-1]):
        for m in metrics:
            cols = []
            for runs in sets:
                vals = runs.get(workload, {}).get(m["name"], [])
                cols.append(f"median {stats.median(vals):10.4g} spread "
                            f"{stats.spread(vals):6.3f} (n={len(vals)})"
                            if len(vals) >= 2 else f"{'n/a':>34}")
            line = f"{workload:12} {m['name']:18} " + " | ".join(cols)
            if len(sets) == 2:
                base = sets[0].get(workload, {}).get(m["name"], [])
                new = sets[1].get(workload, {}).get(m["name"], [])
                if base and new:
                    worse, bad = stats.regression(base, new, m["better"], m["bound"])
                    line += f" | worse {worse:+.3f} vs bound {m['bound']}"
                    if bad:
                        line += "  REGRESSED"
                        regressed = True
            print(line)
    return 1 if regressed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
