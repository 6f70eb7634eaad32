#!/usr/bin/env python3
"""Compare two sets of benchmark results.

    python3 perfbench/compare.py <before> <after>

Each side is a directory of run records (run.py writes one per run to
perfbench/.work/results/) or a list of record files joined with commas.
For each (metric, workload) it prints both sides' median and quartiles
(Python's statistics.quantiles, n=4), the change of the median as a share
of the before median, and, for end-to-end metrics, whether that change is
inside the bound BENCHMARK.json fixes ("worse" past the bound in the
metric's bad direction). Per-layer metrics have no bound and read "n/a".
Exits 1 when any end-to-end metric is worse than its bound.
"""
import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def load(spec):
    p = Path(spec)
    files = sorted(p.glob("*.json")) if p.is_dir() else [Path(s) for s in spec.split(",")]
    out = defaultdict(list)
    for f in files:
        rec = json.loads(f.read_text())
        w = rec["context"]["workload"]
        for name, m in rec["line"]["metrics"].items():
            out[(name, w)].append(m["value"])
    return out


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def main():
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    layer = {m["name"]: m for m in bench["per_layer"]}
    before, after = load(sys.argv[1]), load(sys.argv[2])
    worse = 0
    print(f"{'metric':36} {'workload':14} {'n':>5} {'before q1/med/q3':>32} "
          f"{'after q1/med/q3':>32} {'change':>8}  verdict")
    for key in sorted(set(before) & set(after)):
        name, w = key
        spec = e2e.get(name) or layer.get(name)
        if spec is None:
            continue
        b, a = quartiles(before[key]), quartiles(after[key])
        change = (a[1] - b[1]) / b[1] if b[1] else 0.0
        verdict = "n/a"
        if name in e2e:
            bad = change if spec["better"] == "lower" else -change
            verdict = "worse" if bad > spec["bound"] else "inside bound"
            worse += verdict == "worse"
        fmt = lambda q: "/".join(f"{v:.4g}" for v in q)
        print(f"{name:36} {w:14} {len(before[key]):>2}/{len(after[key]):<2} {fmt(b):>32} "
              f"{fmt(a):>32} {change:>+8.1%}  {verdict}")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main())
