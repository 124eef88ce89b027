#!/usr/bin/env python3
"""Compare two benchmark results metric by metric, naming the layer moved.

Usage:
  python3 perfbench/layerdiff.py BASE NEW

BASE and NEW are each one result file kept by run.py under
.bench_build/results/, or a comma-separated list of such files (several
runs of one side, e.g. the ten seeds of one commit). For every metric it
prints both medians, the delta, each side's spread (inter-quartile distance
over median, with several runs), and the end-to-end metric and workload
that metric maps to (metrics.json), so a reader sees which layer moved.
"""
import json
import os
import sys

from stats import median, spread

HERE = os.path.dirname(os.path.abspath(__file__))


def load_side(arg):
    runs = [json.load(open(p)) for p in arg.split(",") if p]
    if not runs:
        raise SystemExit(f"no result files in {arg!r}")
    workloads = {r["workload"] for r in runs}
    if len(workloads) != 1:
        raise SystemExit(f"{arg}: mixes workloads {sorted(workloads)}")
    values, units = {}, {}
    for r in runs:
        for group in ("end_to_end", "per_layer"):
            for k, v in r.get(group, {}).items():
                values.setdefault(k, []).append(v["value"])
                units[k] = v["unit"]
    return workloads.pop(), len(runs), values, units


def maps_to(metric, table):
    if metric in table:
        return table[metric]
    prefix = metric.split(".")[0] + ".*"
    return table.get(prefix, [])


def main(argv):
    if len(argv) != 3:
        print(__doc__)
        return 2
    with open(os.path.join(HERE, "metrics.json")) as f:
        table = json.load(f)["maps_to"]
    w_a, n_a, a, units = load_side(argv[1])
    w_b, n_b, b, _ = load_side(argv[2])
    if w_a != w_b:
        raise SystemExit(f"different workloads: {w_a} vs {w_b}")
    print(f"workload {w_a}: {n_a} base run(s) vs {n_b} new run(s)")
    print(f"{'metric':<28}{'unit':>7}{'base':>13}{'new':>13}{'delta':>9}"
          f"{'spread b/n':>14}  maps to")
    rows = []
    for k in sorted(set(a) & set(b)):
        ma, mb = median(a[k]), median(b[k])
        delta = (mb - ma) / abs(ma) if ma else (0.0 if mb == ma else float("inf"))
        rows.append((k, ma, mb, delta))
    for k, ma, mb, delta in sorted(rows, key=lambda r: -abs(r[3])):
        spreads = "/".join(f"{spread(x):.0%}" if len(x) > 1 else "-" for x in (a[k], b[k]))
        target = ", ".join(f"{m} on {w}" for m, w in maps_to(k, table)) or "(end-to-end)"
        print(f"{k:<28}{units[k]:>7}{ma:>13.3f}{mb:>13.3f}{delta:>9.1%}{spreads:>14}  {target}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
