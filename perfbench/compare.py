#!/usr/bin/env python3
"""Layer diff: compare benchmark results of two versions.

Usage: python3 perfbench/compare.py --base A.json [A2.json ...] --new B.json [B2.json ...]

Each file is what `run.py --out` writes. With several files per side the
median of each metric is compared. For every workload and end-to-end
metric the table gives both medians, the change, and whether the change
is within the metric's bound from BENCHMARK.json. When a side has both
untraced and traced runs, the tracing overhead between them is printed.
Below come the per-layer metrics of the traced runs, so a saving can be
placed in the layer it came from.
"""
import argparse
import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))


def load(paths):
    """{(workload, kind, metric): [values]} over all files."""
    out = {}
    for p in paths:
        with open(p) as f:
            doc = json.load(f)
        for w, res in doc["results"].items():
            kind = "traced" if doc.get("trace") else "e2e"
            for k, m in res.get("metrics", {}).items():
                out.setdefault((w, kind, k), []).append(m["value"])
            for k, v in res.get("per_layer", {}).items():
                out.setdefault((w, "layer", k), []).append(v)
    return {k: statistics.median(v) for k, v in out.items()}


def bounds():
    path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    with open(path) as f:
        spec = json.load(f)
    return {m["name"]: (m["bound"], m["better"]) for m in spec["end_to_end"]}


def change(a, b):
    return float("nan") if a == 0 else (b - a) / abs(a)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--new", nargs="+", required=True)
    args = ap.parse_args()
    base, new = load(args.base), load(args.new)
    spec = bounds()
    worse = 0
    print("%-8s %-14s %12s %12s %9s  %s" % ("workload", "metric", "base", "new", "change", "verdict"))
    for key in sorted(k for k in base if k[1] == "e2e" and k in new):
        w, _, name = key
        a, b = base[key], new[key]
        c = change(a, b)
        bound, better = spec.get(name, (None, "lower"))
        loss = c if better == "lower" else -c
        verdict = "no bound" if bound is None else (
            "WORSE than bound %.0f%%" % (100 * bound) if loss > bound else "within bound")
        worse += verdict.startswith("WORSE")
        print("%-8s %-14s %12.4f %12.4f %+8.1f%%  %s" % (w, name, a, b, 100 * c, verdict))
    for side, d in (("base", base), ("new", new)):
        for w in sorted({k[0] for k in d if k[1] == "traced"}):
            plain, traced = d.get((w, "e2e", "op_p50_s")), d.get((w, "traced", "op_p50_s"))
            if plain and traced:
                print("%s %s: tracing overhead %+.1f%% (op_p50_s of traced over untraced runs)"
                      % (side, w, 100 * change(plain, traced)))
    layer = sorted(k for k in base if k[1] == "layer" and k in new)
    if layer:
        print()
        print("%-8s %-36s %12s %12s %9s" % ("workload", "per-layer metric", "base", "new", "change"))
        for key in layer:
            w, _, name = key
            a, b = base[key], new[key]
            print("%-8s %-36s %12.4f %12.4f %+8.1f%%" % (w, name, a, b, 100 * change(a, b)))
    return 1 if worse else 0


if __name__ == "__main__":
    raise SystemExit(main())
