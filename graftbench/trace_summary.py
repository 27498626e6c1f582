#!/usr/bin/env python3
"""Summarize the spans files of traced graftbench runs.

Usage:
    python3 graftbench/trace_summary.py graftbench/out/spans-*.jsonl

For each spans file (one workload, one seed) it prints a table of layer self
times per traced round, checks that the layers' self times cover at least
90% of the operations' wall time, and prints the tracing overhead: the median
traced round minus the median untraced round of the same run.

The harness splits each traced operation into layer self times itself
(graftbench.SelfTime) and writes them as "op_self" lines; this script only
adds them up. Time no layer span covered is the layer "op". Exits 1 when a
file's coverage is below 90%.
"""
import json
import statistics
import sys
from collections import defaultdict

MIN_COVERAGE = 0.90


def summarize(path):
    with open(path) as fh:
        lines = [json.loads(l) for l in fh if l.strip()]
    meta = lines[0]["meta"]
    ops = [l["op_self"] for l in lines if "op_self" in l]
    rounds = {o["round"] for o in ops}
    self_ms = defaultdict(float)
    for o in ops:
        for layer, ms in o["self_ms"].items():
            self_ms[layer] += ms
    op_ms = sum(o["wall_ms"] for o in ops)
    n = max(len(rounds), 1)
    layers = {k: v for k, v in self_ms.items() if k != "op"}
    coverage = sum(layers.values()) / op_ms if op_ms else 0.0
    share = lambda v: v / op_ms if op_ms else 0.0
    traced, plain = meta["round_cpu_ms_traced"], meta["round_cpu_ms_untraced"]
    print(f"== {meta['workload']} ({path}): {len(ops)} ops in {n} traced round(s)")
    print(f"   {'layer':<10} {'self ms/round':>14} {'share of op time':>17}")
    for k, v in sorted(layers.items(), key=lambda kv: -kv[1]):
        print(f"   {k:<10} {v / n:>14.1f} {share(v):>16.1%}")
    print(f"   {'(op gaps)':<10} {self_ms['op'] / n:>14.1f} {share(self_ms['op']):>16.1%}")
    print(f"   op wall {op_ms / n:.1f} ms/round; layer self times cover {coverage:.1%} "
          f"({'ok' if coverage >= MIN_COVERAGE else 'BELOW'} {MIN_COVERAGE:.0%})")
    if traced and plain:
        t, p = statistics.median(traced), statistics.median(plain)
        print(f"   tracing overhead: traced round {t:.1f} CPU ms - untraced round {p:.1f} CPU ms = "
              f"{t - p:+.1f} ms ({(t - p) / p:+.1%})")
    return coverage >= MIN_COVERAGE


def main():
    if len(sys.argv) < 2:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    ok = all([summarize(p) for p in sys.argv[1:]])
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
