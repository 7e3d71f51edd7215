#!/usr/bin/env python3
"""Benchmark entry point for graft.

    python3 perfbench/run.py --workload quality_filter --seed 42 --seconds 10 --trace 0

Run from the root of a source checkout. The first run builds the program
and the benchmark from source with sbt (perfbench/build.sbt depends on the
repository's own build) and keeps its classes and classpath under
$CARGO_TARGET_DIR (default .bench_build), keyed by a hash of every source
file. Each run then starts one JVM for one workload on local[nproc], so
persisted data and JIT state never carry over between workloads. Inputs
are generated from --seed into a private directory that is removed
afterwards.

The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end_to_end metrics of BENCHMARK.json, with --trace 1 its
per_layer metrics; names and units come from BENCHMARK.json. Spans and
per-job times of the run are kept in <build dir>/runs/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

# a run ends within RUN_TIMEOUT_S + 2 * --seconds; at the benchmark's own
# sizes a traced ann_topk run, the longest, has ~70 s of fixed cost
RUN_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 700
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (same list as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

WORKLOADS = ("quality_filter", "ann_topk")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files(root):
    """Every file the build reads: the program's sources and build, and the benchmark's."""
    files = ["build.sbt", "perfbench/build.sbt"]
    for top in ("project", "perfbench/project"):
        d = os.path.join(root, top)
        if os.path.isdir(d):
            files += [os.path.join(top, f) for f in sorted(os.listdir(d))
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for top in ("src/main", "perfbench/src/main"):
        for dirpath, dirnames, filenames in os.walk(os.path.join(root, top)):
            dirnames.sort()
            files += [os.path.relpath(os.path.join(dirpath, f), root) for f in sorted(filenames)]
    return files


def build(root, build_dir):
    """Builds once per source tree; returns the runtime classpath.

    sbt compiles into the same target directories for every tree, so each
    build's class directories are copied into <build dir>/<source hash>/:
    a cached classpath then always names the classes of its own tree, even
    after another tree was built in this checkout."""
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(f.encode())
        with open(os.path.join(root, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    own = os.path.join(build_dir, h.hexdigest()[:16])
    cp_file = os.path.join(own, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "export perfbench/Runtime/fullClasspath"]
    print(f"perfbench: building ({' '.join(cmd)})", file=sys.stderr)
    try:
        p = subprocess.run(cmd, cwd=os.path.join(root, "perfbench"), env=env,
                           stdin=subprocess.DEVNULL, capture_output=True, text=True,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    shutil.rmtree(own, ignore_errors=True)
    entries = []
    for i, entry in enumerate(lines[-1].split(os.pathsep)):
        if os.path.isdir(entry):
            copy = os.path.join(own, f"classes{i}")
            shutil.copytree(entry, copy)
            entry = copy
        entries.append(entry)
    classpath = os.pathsep.join(entries)
    # written last, so an interrupted copy is never taken for a build
    with open(cp_file + ".tmp", "w") as fh:
        fh.write(classpath)
    os.replace(cp_file + ".tmp", cp_file)
    return classpath


def declared(root):
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return ({m["name"]: m["unit"] for m in bench["end_to_end"]},
            {m["name"]: m["unit"] for m in bench["per_layer"]})


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", type=int, help="input size (default: the workload's own)")
    args = ap.parse_args()

    root = os.getcwd()
    for need in ("BENCHMARK.json", "build.sbt", "src/main/scala/graft", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a graft source checkout")
    end_to_end, per_layer = declared(root)
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classpath = build(root, build_dir)

    cores = len(os.sched_getaffinity(0))
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = os.path.join(build_dir, "work", tag)
    runs = os.path.join(build_dir, "runs")
    os.makedirs(work, exist_ok=True)
    os.makedirs(runs, exist_ok=True)
    result = os.path.join(runs, tag + ".json")
    log = os.path.join(runs, tag + ".log")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)

    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:CICompilerCount=4", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--work", work, "--result", result]
    if args.rows:
        cmd += ["--rows", str(args.rows)]
    # --rows (e.g. the 200k-row kept check) may take much longer
    timeout = RUN_TIMEOUT_S + 2 * args.seconds
    if args.rows is not None:
        timeout *= 30
    t0 = time.time()
    try:
        with open(log, "w") as out:
            proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                                    stdout=out, stderr=subprocess.STDOUT)
            try:
                code = proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"run exceeded {timeout} s; log in {log}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(result):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-6000:])
        fail(f"JVM exited with {code}")

    with open(result) as fh:
        r = json.load(fh)
    for p in r.get("problems", []):
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    wanted = per_layer if args.trace else end_to_end
    got = r["metrics"]
    if args.trace:
        extra = sorted(k for k in got if k not in wanted)
        if extra:
            print(f"perfbench: measured but not declared: {extra}", file=sys.stderr)
    missing = sorted(set(wanted) - set(got))
    if missing or any(got[k] is None for k in wanted):
        fail(f"metrics missing or not finite: {missing or [k for k in wanted if got[k] is None]}")
    print(f"perfbench: {args.workload} seed {args.seed}: {r['attempted']} jobs in "
          f"{time.time() - t0:.1f} s, notes {r['notes']}", file=sys.stderr)
    print(json.dumps({
        "correct": bool(r["correct"]),
        "attempted": int(r["attempted"]),
        "failed": int(r["failed"]),
        "metrics": {k: {"value": got[k], "unit": u} for k, u in wanted.items()},
    }))


if __name__ == "__main__":
    main()
