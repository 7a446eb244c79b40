#!/usr/bin/env python3
"""Runs one benchmark workload against the program built from this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
benchmark harness with sbt into .bench_build/ (later runs reuse the build
while no source changes). Lane workloads generate their parquet tables
from the seed. The benchmark JVM then sets up, warms up on a fixed amount
of work, measures for --seconds (closed loops finish their last whole
operation, lane loops their last whole pass), checks every output, and
this script prints one JSON line as the last line of stdout:

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

With --trace 0 the metrics are BENCHMARK.json's end-to-end metrics, with
--trace 1 its per-layer metrics; a traced run also leaves its spans in
.bench_build/spans/<workload>-<seed>.jsonl. A failed output check prints
"correct": false and exits 1; a missing program or build exits 2 without
printing a result.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

BUILD_DIR = ".bench_build"
SPARK_CORES = 2
JVM_TIMEOUT_S = 150
WORKLOADS = ("ticks_ws", "jobs_rest", "lanes")
# The lane workload's lanes and the scale factor of the tables each reads:
# iterative and dedup lanes at sf0.01 (wall set by job count and driver
# glue), a scan/shuffle/join/aggregate lane at sf0.1 (wall set by task
# time). Not flagship_revenue_by_nation: it rounds a sum of four-decimal
# products to cents, and on seeds where a nation's exact sum ends in 5 it
# disagrees with its own oracle (see the README).
LANES = (("x10_lpa", 0.01), ("x2_span_cut", 0.01),
         ("j3_shuffle_hash", 0.1))
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Digest of every file the build reads from this checkout."""
    h = hashlib.sha256()
    roots = ["src/main", os.path.join(HERE, "src"), "project/build.properties",
             "build.sbt", os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles program + harness once per source state; returns the
    runtime classpath."""
    stamp_file = os.path.join(BUILD_DIR, "classpath.json")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        cached = json.load(open(stamp_file))
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD_DIR, "build.log")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=840)
        out.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        fail(f"build failed (rc={r.returncode}); see {log}")
    classpath = lines[-1].strip()
    json.dump({"stamp": stamp, "classpath": classpath}, open(stamp_file, "w"))
    return classpath


def run_jvm(classpath, args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dlog4j2.level=error"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main"] + [str(a) for a in args]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"benchmark JVM failed (rc={rc})")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=SPARK_CORES,
                    help="Spark local cores (reference runs only)")
    ap.add_argument("--rate", type=int, default=200,
                    help="ticks_ws offered ticks/s (reference sweeps only)")
    a = ap.parse_args()

    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala")):
        fail("run from the repository root: the program's sources are missing")
    spec = json.load(open("BENCHMARK.json"))
    classpath = build()

    lanes = LANES if a.workload == "lanes" else ()
    data = os.path.abspath(os.path.join(BUILD_DIR, "data", f"seed{a.seed}"))
    for sf in sorted({sf for _, sf in lanes}):
        import datagen
        datagen.write(os.path.join(data, f"sf{sf}"), sf, a.seed)
    lane_dirs = ",".join(f"{n}={data}/sf{sf}" for n, sf in lanes) or "-"
    work = os.path.abspath(os.path.join(
        BUILD_DIR, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    try:
        run_jvm(classpath, [a.workload, a.seed, a.seconds, a.trace, lane_dirs,
                            work, a.cores, a.rate], work)
        res = json.load(open(os.path.join(work, "result.json")))
        problems = list(res["problems"])
        if lanes:
            import oracle
            problems += oracle.check(os.path.join(work, "results"))
        if a.trace:
            spans = os.path.join(BUILD_DIR, "spans")
            os.makedirs(spans, exist_ok=True)
            shutil.move(os.path.join(work, "spans.jsonl"),
                        os.path.join(spans, f"{a.workload}-{a.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    kind = "per_layer" if a.trace else "end_to_end"
    got = res["layers"] if a.trace else res["e2e"]
    want = {m["name"]: m["unit"] for m in spec[kind]}
    if a.trace:
        # A layer this workload does not exercise reads 0 (no work done
        # there); a layer it does exercise must report every metric.
        group = lambda name: name.rsplit(".", 1)[0]
        touched = {group(k) for k in got}
        got.update({k: 0 for k in want if group(k) not in touched})
    if set(got) != set(want):
        fail(f"metric set mismatch: missing {sorted(set(want) - set(got))}, "
             f"unexpected {sorted(set(got) - set(want))}")
    for p in problems:
        print(f"perfbench: CHECK FAILED: {p}", file=sys.stderr)
    if a.trace:  # for the tracing overhead against untraced runs
        print("perfbench: end-to-end metrics of this traced run: "
              + json.dumps(res["e2e"]), file=sys.stderr)
    out = {"correct": not problems, "attempted": res["attempted"],
           "failed": res["failed"],
           "metrics": {k: {"value": got[k], "unit": want[k]}
                       for k in sorted(want)}}
    print(json.dumps(out))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
