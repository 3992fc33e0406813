#!/usr/bin/env python3
"""Summarises a file of alternating parent/change benchmark runs.

    python3 tools/pairs.py BENCH_LOCAL_rNN.json

The file holds {"runs": [{"pair", "side": "parent"|"change", "workload",
"metrics": {name: value}}, ...]}. For each workload and end-to-end metric
it prints each side's median and quartiles, how many pairs the change won,
and the verdict of the gain rule: the change wins at least 9 of 10 pairs
and the medians differ by more than the parent's interquartile range.
"""
import json
import statistics
import sys

LOWER_IS_BETTER = {"setup_s", "wall_s", "op_p50_s", "op_tail_s", "cpu_s"}
HIGHER_IS_BETTER = {"rows_per_s"}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main(path):
    runs = json.load(open(path))["runs"]
    for workload in sorted({r["workload"] for r in runs}):
        pairs = {}
        for r in runs:
            if r["workload"] == workload:
                pairs.setdefault(r["pair"], {})[r["side"]] = r["metrics"]
        pairs = [p for p in pairs.values() if "parent" in p and "change" in p]
        print(f"{workload}: {len(pairs)} pairs")
        for m in sorted(LOWER_IS_BETTER | HIGHER_IS_BETTER):
            par = [p["parent"][m] for p in pairs if m in p["parent"] and m in p["change"]]
            chg = [p["change"][m] for p in pairs if m in p["parent"] and m in p["change"]]
            if not par:
                continue
            lower = m in LOWER_IS_BETTER
            wins = sum((c < p) if lower else (c > p) for p, c in zip(par, chg))
            p1, pm, p3 = quartiles(par)
            c1, cm, c3 = quartiles(chg)
            gap = (pm - cm) if lower else (cm - pm)
            holds = wins >= 0.9 * len(par) and gap > (p3 - p1)
            print(f"  {m:10s} parent {pm:.4g} [{p1:.4g}, {p3:.4g}]  change {cm:.4g} "
                  f"[{c1:.4g}, {c3:.4g}]  {100 * (cm - pm) / pm:+.1f}%  wins {wins}/{len(par)}"
                  f"  gain {'holds' if holds else 'not shown'}")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
