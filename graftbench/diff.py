#!/usr/bin/env python3
"""Compare two sets of traced graft benchmark runs, layer by layer.

    python3 graftbench/diff.py <before> <after>

Each argument is a traced result (`.bench_build/results/<workload>-seed<n>
-trace1.json`, its spans in the `.spans.jsonl` beside it) or a directory
of them. Runs of one workload are pooled by taking the median over seeds.
For every workload in both sets it prints

- the self time per operation of each layer, from the spans: a phase's
  duration minus the part its Spark jobs cover goes to the phase's layer
  (nql.parse/nql.build -> nql, algo.loop -> algo, exec.action ->
  catalyst, the driver-side planning around the action), and each job's
  time goes to the layer its call site names;
- the layer whose self time moved most, with before/after values;
- the per-layer metrics ranked by relative change.
"""
import glob
import json
import os
import statistics
import sys

PHASE_LAYER = {"nql.parse": "nql", "nql.build": "nql", "algo.loop": "algo",
               "exec.action": "catalyst"}


def _files(arg):
    if os.path.isdir(arg):
        return sorted(glob.glob(os.path.join(arg, "*-trace1.json")))
    return [arg]


def _union_ms(intervals):
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def self_times(spans_path):
    """Mean self time per operation (ms) of each layer in one run."""
    spans = [json.loads(line) for line in open(spans_path)]
    ops = [s for s in spans if s["parent"] is None]
    jobs_of = {}
    for s in spans:
        if s["name"] == "spark.job":
            jobs_of.setdefault(s["parent"], []).append(s)
    acc = {}
    for s in spans:
        if s["parent"] is None or s["name"] == "spark.job":
            continue
        jobs = jobs_of.get(s["span"], [])
        covered = _union_ms([(j["start_ms"], j["end_ms"]) for j in jobs])
        layer = PHASE_LAYER.get(s["name"], "other")
        acc[layer] = acc.get(layer, 0.0) + max(
            0.0, s["end_ms"] - s["start_ms"] - covered)
        per_layer = {}
        for j in jobs:
            per_layer.setdefault(j["layer"], []).append(
                (j["start_ms"], j["end_ms"]))
        for layer, iv in per_layer.items():
            acc[layer] = acc.get(layer, 0.0) + _union_ms(iv)
    # jobs launched outside any phase hang off the op itself
    for op in ops:
        for j in jobs_of.get(op["span"], []):
            acc[j["layer"]] = acc.get(j["layer"], 0.0) + (
                j["end_ms"] - j["start_ms"])
    n = max(1, len(ops))
    return {k: v / n for k, v in acc.items()}


def load(arg):
    """workload -> {"metrics": {name: [values]}, "self": {layer: [ms]}}"""
    out = {}
    for f in _files(arg):
        r = json.load(open(f))
        w = out.setdefault(r["workload"], {"metrics": {}, "self": {}, "n": 0})
        w["n"] += 1
        for k, v in r.get("per_layer", {}).items():
            w["metrics"].setdefault(k, []).append(v)
        spans = f[:-len(".json")] + ".spans.jsonl"
        if os.path.exists(spans):
            for k, v in self_times(spans).items():
                w["self"].setdefault(k, []).append(v)
    return out


def med(xs):
    return statistics.median(xs) if xs else 0.0


def rel(a, b):
    if a == b:
        return 0.0
    return (b - a) / abs(a) if a else float("inf")


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    before, after = load(sys.argv[1]), load(sys.argv[2])
    for w in sorted(set(before) & set(after)):
        b, a = before[w], after[w]
        print(f"== {w}  ({b['n']} run(s) before, {a['n']} after)")
        layers = sorted(set(b["self"]) | set(a["self"]))
        rows = [(lay, med(b["self"].get(lay, [])), med(a["self"].get(lay, [])))
                for lay in layers]
        print("self time per op (ms)      before      after      change")
        for lay, x, y in sorted(rows, key=lambda r: -abs(r[2] - r[1])):
            print(f"  {lay:<20} {x:>10.1f} {y:>10.1f} {y - x:>+10.1f}")
        lay, x, y = max(rows, key=lambda r: abs(r[2] - r[1]),
                        default=(None, 0.0, 0.0))
        if x != y:
            print(f"layer that moved: {lay} ({x:.1f} -> {y:.1f} ms per op)")
        else:
            print("no layer's self time moved")
        names = sorted(set(b["metrics"]) & set(a["metrics"]))
        ranked = sorted(((n, med(b["metrics"][n]), med(a["metrics"][n]))
                         for n in names),
                        key=lambda r: -abs(rel(r[1], r[2])))
        print("per-layer metrics by relative change:")
        for n, x, y in ranked:
            if x == y:
                continue
            print(f"  {n:<36} {x:>14.4g} {y:>14.4g} {rel(x, y):>+9.1%}")
        print()


if __name__ == "__main__":
    main()
