#!/usr/bin/env python3
"""Per-layer self time of a traced benchmark run, and the tracing overhead.

A span's self time is its duration minus the part of that interval its
child spans cover. Layers are the span names the harness records: a
request span holds construct, plan and exec spans; Spark jobs are children
of the phase span that submitted them; refresh writes are spans of their
own.

Usage:
  python3 perfbench/selftime.py TRACED_RESULT [UNTRACED_RESULT ...]

Result files are the JSON files `run.py` keeps under .bench_build/results/;
the spans sit beside a traced result as `<name>.spans.jsonl`. With untraced
results of the same workload it also prints the tracing overhead: the
traced run's end-to-end figures against the untraced medians.
"""
import collections
import json
import sys

from stats import median

LAYERS = ["request", "construct", "plan", "exec", "job"]


def load_spans(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def covered(intervals, start, end):
    """Length of the union of `intervals`, clipped to [start, end]."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans, only_calls=False):
    """Total self time in ms per span name. With `only_calls`, only spans of
    measured calls (request kind "call") and refresh writes count."""
    by_id = {s["id"]: s for s in spans}
    kids = collections.defaultdict(list)
    for s in spans:
        kids[s["parent"]].append((s["start_us"], s["end_us"]))

    def in_window(s):
        while s is not None:
            if s["name"] == "request":
                return s["attrs"].get("kind") == "call"
            if s["name"] == "refresh":
                return True
            s = by_id.get(s["parent"])
        return False

    out = collections.defaultdict(float)
    for s in spans:
        if only_calls and not in_window(s):
            continue
        dur = s["end_us"] - s["start_us"]
        out[s["name"]] += (dur - covered(kids.get(s["id"], []), s["start_us"], s["end_us"])) / 1000.0
    return dict(out)


def main(argv):
    if len(argv) < 2:
        print(__doc__)
        return 2
    traced = json.load(open(argv[1]))
    spans = load_spans(argv[1][:-len(".json")] + ".spans.jsonl")
    calls = max(traced["attempted"], 1)
    own = self_times(spans, only_calls=True)
    print(f"workload {traced['workload']}  seed {traced['seed']}  calls {calls}")
    print(f"{'layer':<12}{'self ms/call':>14}{'share':>9}")
    total = sum(own.values()) or 1.0
    for layer in LAYERS + sorted(set(own) - set(LAYERS)):
        v = own.get(layer, 0.0)
        print(f"{layer:<12}{v / calls:>14.3f}{v / total:>9.1%}")
    untraced = [json.load(open(p)) for p in argv[2:]]
    untraced = [u for u in untraced if u["workload"] == traced["workload"] and not u["trace"]]
    if untraced:
        print(f"\ntracing overhead against {len(untraced)} untraced run(s):")
        print(f"{'metric':<16}{'traced':>12}{'untraced p50':>14}{'overhead':>10}")
        for k in ("req_p50_ms", "req_p90_ms", "req_per_s", "setup_s"):
            t = traced["end_to_end"][k]["value"]
            u = median([x["end_to_end"][k]["value"] for x in untraced])
            print(f"{k:<16}{t:>12.3f}{u:>14.3f}{(t / u - 1):>10.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
