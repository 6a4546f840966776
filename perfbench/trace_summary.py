#!/usr/bin/env python3
"""Summarize a perfbench span file.

    python3 perfbench/trace_summary.py SPANS.jsonl [--untraced RESULT.json]

Prints, per module (span kind), the total and the self time: a span's
duration minus the part of it covered by its child spans. Kinds:
engine (session), pass/phase, tables/resolve (Tables loaders), query,
construct (SparkEntry -> analytics/operators construction), execute
(the result write), job, stage (Spark), prime/load/check and batch
(micro-batches) for streams. It also prints each batch pass's coverage:
the share of its wall time inside named query spans.

With --untraced, the tracing overhead: the traced run's end-to-end
metrics minus those of an untraced run of the same workload and seed
(both result records live in perfbench/.work/results/).
"""
import argparse
import collections
import json
import os
import sys


def load(path):
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def union_len(iv):
    total, end = 0.0, None
    start = None
    for a, b in sorted(iv):
        if end is None or a > end:
            if end is not None:
                total += end - start
            start, end = a, b
        else:
            end = max(end, b)
    if end is not None:
        total += end - start
    return total


def self_times(spans):
    """{kind: (count, total_ms, self_ms)}."""
    kids = collections.defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    out = collections.defaultdict(lambda: [0, 0.0, 0.0])
    for s in spans:
        if s["end_ms"] is None:
            continue
        dur = s["end_ms"] - s["start_ms"]
        covered = union_len([
            (max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"]))
            for c in kids[s["id"]]
            if c["end_ms"] is not None and c["end_ms"] > s["start_ms"]
            and c["start_ms"] < s["end_ms"]])
        row = out[s["kind"]]
        row[0] += 1
        row[1] += dur
        row[2] += max(0.0, dur - covered)
    return out


def coverage(spans):
    """[(pass name, wall s, share inside query spans)] for batch passes."""
    kids = collections.defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    rows = []
    for s in spans:
        if s["kind"] == "pass":
            wall = s["end_ms"] - s["start_ms"]
            named = sum(c["end_ms"] - c["start_ms"] for c in kids[s["id"]]
                        if c["kind"] == "query")
            rows.append((s["name"], wall / 1e3, named / wall if wall else 0))
    return rows


def summarize(path, out=sys.stdout):
    spans = load(path)
    print(f"== trace {os.path.basename(path)}: {len(spans)} spans", file=out)
    print(f"   {'module':10s} {'spans':>6s} {'total_s':>10s} {'self_s':>10s}",
          file=out)
    for kind, (n, tot, own) in sorted(self_times(spans).items(),
                                      key=lambda kv: -kv[1][2]):
        print(f"   {kind:10s} {n:6d} {tot / 1e3:10.3f} {own / 1e3:10.3f}",
              file=out)
    for name, wall, share in coverage(spans):
        print(f"   {name}: {wall:.3f} s, {100 * share:.1f}% in named "
              f"query spans", file=out)


def overhead(traced, untraced, out=sys.stdout):
    t = json.load(open(traced))["metrics"]
    # the end-to-end metrics, as the untraced run reported them
    u = json.load(open(untraced))["report_metrics"]
    print("== tracing overhead (traced - untraced)", file=out)
    for k in sorted(set(t) & set(u)):
        a, b = t[k]["value"], u[k]["value"]
        rel = f"{100 * (a - b) / b:+.1f}%" if b else ""
        print(f"   {k:20s} {a - b:+12.4f} {t[k]['unit']:6s} {rel}", file=out)


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("spans")
    ap.add_argument("--untraced", help="result record of an untraced run")
    a = ap.parse_args()
    summarize(a.spans)
    if a.untraced:
        traced = a.spans.replace(".spans.jsonl", ".json")
        overhead(traced, a.untraced)
