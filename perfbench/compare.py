#!/usr/bin/env python3
"""Compare two traced benchmark records and sort the per-layer movers.

    python3 perfbench/compare.py perfbench/work/trace-pipeline-1.json other.json

A traced run (`run.py --trace 1`) writes its record to
perfbench/work/trace-<workload>-<seed>.json.  Every per-layer metric that
moved by more than THRESHOLD (10%, relative) is listed under its layer and
sorted into one of two kinds:

  count changed  the layer's job, stage or task count differs between the
                 records, so the program does different work;
  time moved     the counts are equal, so the same work took another time
                 (compare jvm.jit_s and host.steal_pct for a noisy epoch).
"""

import argparse
import json

COUNTS = ("jobs", "stages", "tasks")
CONTEXT = ("jvm.", "host.", "trace.", "share.")
THRESHOLD = 0.10


def layer_of(name):
    head, _, _ = name.rpartition(".")
    return head or name


def movers(a, b):
    """[(kind, layer, name, before, after, unit)] for metrics present in both."""
    out = []
    for name in sorted(set(a) & set(b)):
        if name.startswith(CONTEXT):
            continue
        (va, unit), (vb, _) = a[name], b[name]
        base = max(abs(va), abs(vb))
        if base == 0 or abs(vb - va) / base <= THRESHOLD:
            continue
        layer = layer_of(name)
        counts_moved = any(a.get(f"{layer}.{c}", (0,))[0] != b.get(f"{layer}.{c}", (0,))[0]
                           for c in COUNTS)
        kind = "count changed" if counts_moved else "time moved"
        out.append((kind, layer, name, va, vb, unit))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("before")
    ap.add_argument("after")
    args = ap.parse_args()
    recs = []
    for p in (args.before, args.after):
        with open(p) as f:
            recs.append(json.load(f))
    a, b = (r["per_layer"] for r in recs)
    if recs[0]["workload"] != recs[1]["workload"]:
        print(f"note: workloads differ ({recs[0]['workload']} vs {recs[1]['workload']})")
    for ctx in ("jvm.jit_s", "jvm.gc_s", "host.steal_pct", "trace.overhead_s"):
        if ctx in a and ctx in b:
            print(f"context {ctx:<20} {a[ctx][0]:12.4f} -> {b[ctx][0]:12.4f} {a[ctx][1]}")
    found = movers(a, b)
    for kind in ("count changed", "time moved"):
        rows = [m for m in found if m[0] == kind]
        print(f"{kind}: {len(rows)} metric(s)")
        for _, layer, name, va, vb, unit in rows:
            print(f"  {layer:<22} {name:<36} {va:16.4f} -> {vb:16.4f} {unit}")


if __name__ == "__main__":
    main()
