#!/usr/bin/env python3
"""Benchmark entry point: raw-JSON -> star pipeline (cold and incremental) and
a query mix, run in one local-mode Spark driver per workload.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 1 --trace 0

Run from the root of a checkout of the repository.  The first run builds the
program and the benchmark from source with sbt (perfbench/build.sbt); later
runs reuse the build until a source file changes.  Inputs for the pipeline
workloads are generated from --seed by gen.py and cached per seed under
perfbench/work/.  The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}, with the end-to-end metrics
(--trace 0) or the per-layer metrics (--trace 1).  Lines above it print every
metric with its unit, the workload's sizes and the host's CPU steal.

See perfbench/README.md for the workloads, the metrics and what each layer
metric should move.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen      # noqa: E402
import stats    # noqa: E402

WORK = os.path.join(HERE, "work")
DEFAULT_SEED = 1
RUN_DEADLINE_S = 160        # the run after the build; a run must end in 180 s
BUILD_DEADLINE_S = 600      # a first run, which builds, must end in 900 s

# Pipeline input size, the same for every seed: a round's batch load reads
# BASE_DAYS files, then the next STREAM_DAYS files land one by one on its result.
BASE_DAYS, STREAM_DAYS, PER_DAY = 3, 2, 250

WORKLOADS = ("pipeline", "query_mix")
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    for top in ("build.sbt", "project", "src/main", "perfbench/build.sbt",
                "perfbench/project", "perfbench/src"):
        p = os.path.join(root, top)
        walk = [(p, [], [""])] if os.path.isfile(p) else os.walk(p)
        for d, dirs, files in walk:
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                fp = os.path.join(d, f) if f else d
                st = os.stat(fp)
                h.update(f"{os.path.relpath(fp, root)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath(root):
    """Build the program and the benchmark if any source changed; return the
    runtime classpath."""
    cp_file = os.path.join(WORK, "build", "classpath.txt")
    stamp_file = os.path.join(WORK, "build", "stamp")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g"))
    log = os.path.join(WORK, "build", "sbt.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           timeout=BUILD_DEADLINE_S)
    lines = open(log).read().splitlines()
    cps = [l for l in lines if l.startswith("/") and "perfbench" in l and ".jar" in l]
    if r.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def cpu_times():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), (v[7] if len(v) > 7 else 0)


def driver_heap():
    """The program's own driver heap (16 GiB, build.sbt), capped at half the
    machine's memory, since the machine may be shared."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        return max(2, min(16, kb // 2 // 1048576))
    except (OSError, StopIteration, ValueError):
        return 2


def run_jvm(cp, args, deadline):
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "result.json")
    heap = driver_heap()
    # the program's javaOptions from build.sbt, the ones its tests and
    # graft.Bench run with: default tiered JIT, 2 GiB code cache
    cmd = (["java", f"-Xmx{heap}g", "-XX:ReservedCodeCacheSize=2g",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--work", run_dir, "--out", out] + args)
    log = os.path.join(WORK, "jvm.log")
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("the JVM overran the run's deadline")
    if p.returncode != 0 or not os.path.exists(out):
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        fail(f"the JVM exited with {p.returncode}")
    with open(out) as f:
        return json.load(f), heap


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    a = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a checkout: the program's sources are not here")
    cp = classpath(root)
    deadline = time.time() + RUN_DEADLINE_S
    os.makedirs(WORK, exist_ok=True)
    cores = len(os.sched_getaffinity(0))

    jvm_args = ["--workload", a.workload, "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--cores", str(cores)]
    sizes = {}
    if a.workload == "query_mix":
        sf = os.path.join(HERE, "data", "sf0.01")
        qfile = os.path.join(HERE, "queries.txt")
        jvm_args += ["--sf", sf, "--queries", qfile]
        sizes = {"queries": len(stats.query_list(qfile)),
                 "bytes": sum(os.path.getsize(os.path.join(sf, f)) for f in os.listdir(sf))}
    else:
        data, manifest = gen.cached(os.path.join(WORK, "data"), a.seed, BASE_DAYS, STREAM_DAYS, PER_DAY)
        jvm_args += ["--data", data]
        fs = manifest["files"]
        sizes = {"records": sum(f["records"] for f in fs), "files": len(fs),
                 "bytes": sum(f["bytes"] for f in fs),
                 "dates_touched": len({d for f in fs for d in f["dates_touched"]})}

    total0, steal0 = cpu_times()
    res, heap = run_jvm(cp, jvm_args, deadline)
    total1, steal1 = cpu_times()
    steal_pct = 100.0 * (steal1 - steal0) / max(1, total1 - total0)

    golden = stats.load_json(os.path.join(HERE, "golden.json"))
    failures = list(res["failures"])
    expected = stats.expected_digests(golden, a.workload, a.seed, DEFAULT_SEED)
    for k, v in sorted(expected.items()):
        got = res["digests"].get(k)
        if got != v:
            failures.append(f"digest of {k}: expected {v}, got {got}")

    report = stats.report(res, a.workload, sizes, steal_pct, heap, failures)
    for line in report["lines"]:
        print(line)
    if a.trace:
        trace_out = os.path.join(WORK, f"trace-{a.workload}-{a.seed}.json")
        with open(trace_out, "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "per_layer": report["per_layer"],
                       "layers_per_round": res["layers"], "rounds": res["rounds"],
                       "spans": res["spans"], "jobs": res["jobs"]}, f)
        print(f"trace record: {os.path.relpath(trace_out, root)}")
    metrics = report["per_layer"] if a.trace else report["end_to_end"]
    print(json.dumps({"correct": not failures, "attempted": report["attempted"],
                      "failed": report["failed"],
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
