#!/usr/bin/env python3
"""Summarize the spans of a traced benchmark run: self time per layer.

Usage: python3 perfbench/summarize.py <spans.jsonl>

A span's self time is its duration minus the time its child spans cover.
Driver-side spans name their parent; spans recorded off the driver thread
(Spark jobs, Catalyst phases, piped commands) are placed under the
innermost span of the same operation that holds them and sits higher in
the layer order bench > queries/sources > catalyst/spark > operators.
Figures are seconds per traced operation. Commands run in parallel tasks,
so the operators layer can add up to more than wall time.
"""
import json
import sys

LAYERS = ["bench", "queries", "sources", "catalyst", "spark", "operators"]
DEPTH = {"bench": 0, "queries": 1, "sources": 1, "catalyst": 2, "spark": 2, "operators": 3}
SLACK_US = 1000  # listener and tracker times are whole milliseconds (Layers.SlackUs)


def load(path):
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def union_us(intervals):
    covered, reach = 0, None
    for s, e in sorted(intervals):
        if reach is None or s > reach:
            covered, reach = covered + e - s, e
        elif e > reach:
            covered, reach = covered + e - reach, e
    return covered


def place(spans):
    """Fill in the parent of every span recorded without one."""
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    for members in by_op.values():
        for s in members:
            if s["parent"] >= 0 or s["layer"] == "bench":
                continue
            holders = [h for h in members
                       if DEPTH[h["layer"]] < DEPTH[s["layer"]]
                       and h["start_us"] - SLACK_US <= s["start_us"] and s["end_us"] <= h["end_us"] + SLACK_US]
            s["parent"] = min(holders, key=lambda h: h["end_us"] - h["start_us"])["id"] if holders else s["op"]
    return spans


def self_time(path):
    """{layer: self seconds per traced operation} for every layer."""
    spans = place(load(path))
    children = {}
    for s in spans:
        if s["layer"] != "bench":
            children.setdefault(s["parent"], []).append(s)
    ops = sum(1 for s in spans if s["layer"] == "bench") or 1
    total = dict.fromkeys(LAYERS, 0.0)
    for s in spans:
        lo, hi = s["start_us"], s["end_us"]
        covered = union_us([(max(c["start_us"], lo), min(c["end_us"], hi))
                            for c in children.get(s["id"], []) if min(c["end_us"], hi) > max(c["start_us"], lo)])
        total[s["layer"]] += (hi - lo - covered) / 1e6
    return {layer: secs / ops for layer, secs in total.items()}


def report(path):
    spans = load(path)
    ops = sum(1 for s in spans if s["layer"] == "bench")
    wall = sum(s["end_us"] - s["start_us"] for s in spans if s["layer"] == "bench") / 1e6 / max(ops, 1)
    lines = [f"trace: {ops} traced ops, {len(spans)} spans, {wall:.4f} s per op; self time per op by layer:"]
    for layer, secs in self_time(path).items():
        lines.append(f"  {layer:<10} {secs:10.4f} s  {100 * secs / wall if wall else 0:6.1f} %")
    return lines


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    print("\n".join(report(sys.argv[1])))
