"""Turns the JVM's measurements into the benchmark's metrics.

The metric names, units and directions are read from BENCHMARK.json at the
root of the checkout, so what is printed is exactly what is declared.
"""

import json
import os
import statistics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def load_json(path):
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


def query_list(path):
    with open(path) as f:
        return [l.strip() for l in f if l.strip() and not l.startswith("#")]


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    samples at or below it."""
    s = sorted(values)
    k = max(1, -(-len(s) * p // 100))
    return s[int(k) - 1]


def tail(values):
    """(percentile, value) at the highest percentile of LADDER that has at
    least ten samples above it, or None when no percentile qualifies."""
    n = len(values)
    for p in LADDER:
        rank = -(-n * p // 100)
        if n - rank >= 10:
            return p, percentile(values, p)
    return None


def expected_digests(golden, workload, seed, default_seed):
    """Recorded output digests that apply to this run: pipeline digests are
    golden for the default seed only; query digests hold for every seed,
    since the query mix reads fixed tables."""
    g = golden.get(workload, {})
    if workload == "query_mix" or seed == default_seed:
        return g
    return {}


def report(res, workload, sizes, steal_pct, heap_gb, failures):
    e2e_units, layer_units = declared()
    # warm-up rounds are part of setup_s
    untraced = [r for r in res["rounds"] if not r["traced"] and not r["warmup"]]
    traced = [r for r in res["rounds"] if r["traced"]]
    ops = [o for r in untraced for o in r["ops"]]
    # on the pipeline an op's latency is that of one incremental call: the
    # batch load is one op per round and counts in wall_s only
    lat = [o["s"] for o in ops if o["name"] != "load"]
    walls = [r["wall_s"] for r in untraced]
    attempted = sum(len(r["ops"]) for r in res["rounds"])
    # each failure is one op that threw or one failed output check
    failed = min(attempted, len(failures))
    wall = statistics.median(walls)
    e2e = {
        "setup_s": res["setup_s"],
        "wall_s": wall,
        "op_p50_s": statistics.median(lat),
        "peak_storage_mb": res["peak_storage_mb"],
    }
    lines = [f"workload {workload}: {len(untraced)} timed rounds, {len(ops)} ops, "
             f"{attempted} attempted, {failed} failed",
             "sizes: " + ", ".join(f"{k}={v}" for k, v in sizes.items()),
             f"host: cores={res['cores']} driver_heap={heap_gb}g steal={steal_pct:.2f}%"
             + (" CONTENDED (steal >= 1%)" if steal_pct >= 1.0 else "")]
    extra = [("failed_ratio", failed / attempted, "ratio")]
    t = tail(lat)
    if t:
        extra.append(("op_tail_s", t[1], f"s (p{t[0]:g}, n={len(lat)})"))
    else:
        lines.append(f"op_tail_s: omitted, {len(lat)} ops leave no percentile with 10 samples above it")
    if "records" in sizes:
        extra.append(("records_per_s", sizes["records"] / wall, "1/s"))
    for k, v in e2e.items():
        lines.append(f"  {k:<18} {v:12.4f} {e2e_units[k]}")
    for k, v, u in extra:
        lines.append(f"  {k:<18} {v:12.4f} {u}")
    for f in failures:
        lines.append(f"FAILED: {f}")

    per_layer = {}
    if traced:
        layers = {k: statistics.median(r[k] for r in res["layers"]) for k in res["layers"][0]}
        layers["jvm.gc_s"] = res["jvm"]["gc_s"]
        layers["jvm.jit_s"] = res["jvm"]["jit_s"]
        layers["host.steal_pct"] = steal_pct
        layers["trace.overhead_s"] = statistics.median(r["wall_s"] for r in traced) - wall
        missing = set(layer_units) - set(layers)
        if missing:
            raise KeyError(f"per-layer metrics not measured: {sorted(missing)}")
        per_layer = {k: (layers[k], layer_units[k]) for k in layer_units}
        lines.append(f"per-layer (median of {len(traced)} traced rounds; untraced round "
                     f"{wall:.3f} s, traced {wall + layers['trace.overhead_s']:.3f} s):")
        for k, (v, u) in per_layer.items():
            lines.append(f"  {k:<34} {v:16.4f} {u}")
    return {"lines": lines, "attempted": attempted, "failed": failed,
            "end_to_end": {k: (e2e[k], u) for k, u in e2e_units.items()},
            "per_layer": per_layer}
