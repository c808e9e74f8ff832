#!/usr/bin/env python3
"""Reads a traced run of the layer benchmark and prints where the time went.

Usage (from the repository root, after a traced run):

    python3 layerbench/trace_report.py .bench_build/traces/sse-live-seed7.json

It prints three tables:
  1. self time per layer: each span's duration minus the part of it that
     its child spans cover, summed per layer;
  2. the run's per-layer metrics, grouped by the layer they belong to
     (read from the matching .bench_build/results/<workload>-seed<n>-trace1.json);
  3. tracing overhead: the traced run's end-to-end values and latencies
     against the median of the untraced runs of the same workload found in
     .bench_build/results/.
"""
import argparse
import glob
import json
import os
import statistics
import sys
from collections import defaultdict

# Which layer a per-layer metric belongs to, by name prefix (first match).
LAYERS = [
    ("RedditLogSink.", "RedditLogSink"),
    ("RedditLogSource.", "RedditLogSource"),
    ("RedditLog.", "RedditLog"),
    ("SseServer.feed.", "SseServer.feed"),
    ("SseServer.writer.", "SseServer.writer"),
    ("SseServer.catchUp.", "SseServer.catchUp"),
    ("queries.exec_s", "operators (execute)"),
    ("queries.plan_ms", "operators (execute)"),
    ("queries.task_util", "operators (execute)"),
    ("queries.pinned_bytes", "operators (execute)"),
    ("queries.", "queries (build)"),
    ("spark.", "spark"),
    ("live.", "end to end, traced"),
    ("catchup.", "end to end, traced"),
    ("batch.", "end to end, traced"),
    ("", "diagnostics"),
]


def layer_of(metric):
    return next(layer for prefix, layer in LAYERS if metric.startswith(prefix))


def covered(intervals, lo, hi):
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def self_times(spans):
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append((s["start"], s["end"]))
    per_layer = defaultdict(lambda: [0, 0.0, 0.0])  # spans, total ms, self ms
    for s in spans:
        dur = max(0.0, s["end"] - s["start"])
        own = dur - covered(children.get(s["id"], []), s["start"], s["end"])
        row = per_layer[s["layer"]]
        row[0] += 1
        row[1] += dur
        row[2] += max(0.0, own)
    return per_layer


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("trace")
    ap.add_argument("--results", default=os.path.join(".bench_build", "results"))
    args = ap.parse_args()
    with open(args.trace) as fh:
        trace = json.load(fh)
    meta, spans = trace["meta"], trace["spans"]
    workload, seed = meta["workload"], meta["seed"]
    print("trace %s: workload %s, seed %s, %d spans" % (args.trace, workload, seed, len(spans)))

    roots = sum(max(0.0, s["end"] - s["start"]) for s in spans if s["parent"] == 0)
    print("\n1. self time per layer (root spans cover %.0f ms)" % roots)
    print("%-22s %7s %12s %12s %7s" % ("layer", "spans", "total ms", "self ms", "self %"))
    for layer, (n, tot, own) in sorted(self_times(spans).items(), key=lambda kv: -kv[1][2]):
        share = 100.0 * own / roots if roots else 0.0
        print("%-22s %7d %12.1f %12.1f %6.1f%%" % (layer, n, tot, own, share))

    traced = os.path.join(args.results, "%s-seed%s-trace1.json" % (workload, seed))
    if os.path.isfile(traced):
        with open(traced) as fh:
            metrics = json.load(fh)["metrics"]
        print("\n2. per-layer metrics")
        by_layer = defaultdict(list)
        for name, m in metrics.items():
            by_layer[layer_of(name)].append((name, m["value"], m["unit"]))
        for layer, rows in by_layer.items():
            print("  %s" % layer)
            for name, value, unit in rows:
                print("    %-46s %16.3f %s" % (name, value, unit))
    else:
        print("\n2. per-layer metrics: %s not found" % traced)

    untraced = []
    for path in glob.glob(os.path.join(args.results, "%s-seed*-trace0.json" % workload)):
        with open(path) as fh:
            run = json.load(fh)
        # the latencies are in the detail line's layer table
        untraced.append(dict(run.get("detail", {}).get("layer", {}), **run["metrics"]))
    print("\n3. tracing overhead (traced run vs median of %d untraced runs)" % len(untraced))
    for key, value in meta.items():
        if not key.startswith("e2e."):
            continue
        name = key[4:]
        base = [m[name]["value"] for m in untraced if name in m]
        if not base:
            print("  %-22s traced %12.3f  (no untraced runs)" % (name, float(value)))
            continue
        med = statistics.median(base)
        gap = (float(value) / med - 1.0) * 100.0 if med else float("nan")
        print("  %-22s traced %12.3f  untraced %12.3f  gap %+6.1f%%" % (name, float(value), med, gap))
    return 0


if __name__ == "__main__":
    sys.exit(main())
