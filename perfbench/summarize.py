#!/usr/bin/env python3
"""Summarize a traced run of the graft benchmark.

    python3 perfbench/summarize.py --workload <name> --seed <n>

Reads the result files run.py leaves in .bench_build/perfbench/results/
for one workload and seed: one run with --trace 0, one with --trace 1. Prints the self time of each span layer per op (span
duration minus the child spans inside it), the engine-side layers from
the traced run's counters, and the tracing overhead: each end-to-end
metric of the traced run against the untraced one.
"""
import argparse
import json
import os
import sys
from collections import defaultdict

RESULTS = os.path.join(".bench_build", "perfbench", "results")


def load(workload, seed, trace):
    path = os.path.join(RESULTS, f"{workload}-seed{seed}-trace{trace}.json")
    if not os.path.exists(path):
        sys.exit(f"summarize: {path} not found; make the --trace 0 and --trace 1 runs with run.py first")
    return json.load(open(path))


def self_times(spans):
    """Self time (ms) per span name, summed over all spans."""
    child = defaultdict(int)
    for s in spans:
        child[s["parent"]] += s["end_us"] - s["start_us"]
    out = defaultdict(float)
    for s in spans:
        out[s["name"]] += (s["end_us"] - s["start_us"] - child[s["id"]]) / 1000.0
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    plain, traced = load(a.workload, a.seed, 0), load(a.workload, a.seed, 1)

    ops = traced.get("ops", [])
    n = max(1, len(ops))
    op_ms = sum(o["end_us"] - o["start_us"] for o in ops) / 1000.0
    print(f"{a.workload} seed {a.seed}: {len(ops)} traced ops, mean op {op_ms / n:.1f} ms")
    print("self time per op, by span layer (ms):")
    st = self_times(traced.get("spans", []))
    covered = sum(st.values())
    for name, ms in sorted(st.items(), key=lambda kv: -kv[1]):
        print(f"  {name:12s} {ms / n:10.2f}  {100 * ms / max(op_ms, 1e-9):5.1f}% of op wall")
    print(f"  {'(untraced)':12s} {(op_ms - covered) / n:10.2f}  benchmark code between spans")
    layers = traced["per_layer"]
    print("engine layers (traced run counters):")
    for k in sorted(layers):
        if k.split(".")[0] in ("catalyst", "sched", "exec", "shuffle", "storage", "sources"):
            print(f"  {k:32s} {layers[k]:12.4f}")
    print("tracing overhead (traced vs untraced, end-to-end):")
    for k, v0 in plain["end_to_end"].items():
        v1 = traced["end_to_end"][k]
        rel = (v1 - v0) / v0 * 100 if v0 else float("nan")
        print(f"  {k:18s} untraced {v0:12.4f}  traced {v1:12.4f}  {rel:+6.1f}%")


if __name__ == "__main__":
    main()
