#!/usr/bin/env python3
"""Benchmark for the graft engine: store-verb serving, the batch LLM-data
pipeline and streaming index maintenance.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload serve_mix --seed 1 --seconds 10 --trace 0

`--workload all` runs every workload in turn. The first run builds the engine
and the benchmark from source with sbt (the build is cached under
perfbench/target and redone when a source file changes). Each run gets a
fresh scratch directory under perfbench/target/work, deleted afterwards.

Output: one JSON report line per workload (environment stamp, CPU canaries,
every end-to-end figure, tails with their percentile and sample count, the
wall time of each phase, per-layer counters and spans when traced), then,
as the last line, the result object {"correct", "attempted", "failed",
"metrics"} holding the end-to-end metrics (--trace 0) or the per-layer
metrics (--trace 1) named in perfbench/definitions.json. Exit code 0 only
when every check passed.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
TARGET = os.path.join(BENCH_DIR, "target")
CLASSPATH_FILE = os.path.join(TARGET, "perfbench-classpath.json")
DEFINITIONS = os.path.join(BENCH_DIR, "definitions.json")

BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 needs these outside spark-submit; the same list the
# engine's own build passes to forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """sha256 over every engine and benchmark source and build file."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(ROOT, "src", "main"), os.path.join(BENCH_DIR, "build.sbt"),
            os.path.join(BENCH_DIR, "project", "build.properties"), os.path.join(BENCH_DIR, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def check_checkout():
    needed = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala", "graft"),
              os.path.join(BENCH_DIR, "build.sbt"), DEFINITIONS]
    missing = [os.path.relpath(p, ROOT) for p in needed if not os.path.exists(p)]
    if missing:
        log("not a graft source checkout; missing: " + ", ".join(missing))
        sys.exit(2)


def classpath():
    """The benchmark's runtime classpath, building first when needed."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as fh:
            cached = json.load(fh)
        if cached.get("stamp") == stamp and all(os.path.exists(p) for p in cached["classpath"][:2]):
            return cached["classpath"], stamp
    log("building engine and benchmark with sbt ...")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=BENCH_DIR, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = [l.strip() for l in proc.stdout.splitlines()]
    cp = [l for l in lines if not l.startswith("[") and "classes" in l and ":" in l]
    if proc.returncode != 0 or not cp:
        sys.stderr.write(proc.stdout[-4000:])
        log("build failed")
        sys.exit(3)
    entries = cp[-1].split(os.pathsep)
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as fh:
        json.dump({"stamp": stamp, "classpath": entries}, fh)
    log(f"build done in {time.time() - t0:.1f}s")
    return entries, stamp


def git_sha():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, stdout=subprocess.PIPE,
                             stderr=subprocess.DEVNULL, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_workload(workload, args, cp, stamp):
    """Run one workload in a fresh scratch directory; return its report."""
    work_root = os.path.join(TARGET, "work")
    os.makedirs(work_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{workload}-", dir=work_root)
    try:
        os.makedirs(os.path.join(work, "tmp"))
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        # fixed heap and the parallel collector: a short run on few cores
        # varies less than with the default collector's concurrent threads
        cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
               + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", os.pathsep.join(cp), "perfbench.Main",
                  "--workload", workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
                  "--trace", str(args.trace), "--workdir", work])
        try:
            proc = subprocess.run(cmd, cwd=work, env=env, stdout=subprocess.PIPE, text=True,
                                  timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            log(f"{workload}: no result within {RUN_TIMEOUT_S}s")
            sys.exit(4)
        lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
        if proc.returncode != 0 or not lines:
            log(f"{workload}: benchmark process exited with {proc.returncode} and no report")
            sys.exit(5)
        report = json.loads(lines[-1])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report["env"].update({"git_sha": git_sha(), "source_sha256": stamp,
                          "flush_policy": "local-FS parquet writes, no fsync"})
    return report


def result(report, defs, trace):
    """The result object: exactly the declared metrics of this mode."""
    section, declared = ("per_layer", defs["per_layer"]) if trace else ("end_to_end", defs["end_to_end"])
    values = report[section]
    missing = [m["name"] for m in declared if not isinstance(values.get(m["name"]), (int, float))]
    if missing:
        log(f"report lacks values for declared metrics: {missing}")
        sys.exit(6)
    return {"correct": bool(report["correct"]), "attempted": int(report["attempted"]),
            "failed": int(report["failed"]),
            "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    check_checkout()
    with open(DEFINITIONS) as fh:
        defs = json.load(fh)
    names = [w["name"] for w in defs["workloads"]]
    workloads = names if args.workload == "all" else [args.workload]
    if any(w not in names for w in workloads):
        log(f"unknown workload {args.workload!r}; expected one of {names} or 'all'")
        sys.exit(2)

    cp, stamp = classpath()
    results = {}
    for w in workloads:
        report = run_workload(w, args, cp, stamp)
        print(json.dumps(report, sort_keys=True), flush=True)
        results[w] = result(report, defs, args.trace == 1)
        if len(workloads) > 1:
            print(json.dumps(dict(results[w], workload=w), sort_keys=True), flush=True)

    if len(workloads) == 1:
        final = results[workloads[0]]
    else:
        final = {"correct": all(r["correct"] for r in results.values()),
                 "attempted": sum(r["attempted"] for r in results.values()),
                 "failed": sum(r["failed"] for r in results.values()),
                 "metrics": {f"{w}.{k}": v for w, r in results.items() for k, v in r["metrics"].items()}}
    print(json.dumps(final), flush=True)
    sys.exit(0 if final["correct"] else 1)


if __name__ == "__main__":
    main()
