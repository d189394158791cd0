#!/usr/bin/env python3
"""Runs one workload of the RAG serving benchmark.

    python3 perfbench/run.py --workload ask --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark with sbt (offline) and records the classpath under
`.bench_build/`; later runs start the JVM directly. Every metric of the
run is printed by name with its unit, and the last line of standard
output is one JSON object: `correct`, `attempted`, `failed` and
`metrics`, the `end_to_end` metrics of BENCHMARK.json with `--trace 0`
and its `per_layer` metrics with `--trace 1`.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
STAMP = os.path.join(BUILD, "classpath.sources")
RUN_LIMIT_S = 175  # a run must end within 180 s once built

# Spark 4 on JDK 17 needs these outside spark-submit (the engine's build
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def wait(proc, timeout_s):
    """Exit code of `proc`, or "timeout" after killing its whole process
    group (sbt's launcher starts a JVM of its own)."""
    try:
        return proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return "timeout"


def sources_digest():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no engine sources next to the benchmark (build.sbt, src/main/scala)")
    digest = sources_digest()
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP):
        with open(STAMP) as fh:
            if fh.read() == digest:
                return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep sbt's temporary files in the checkout, and start no sbt server
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
            "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        rc = wait(subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                                   cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                                   stdin=subprocess.DEVNULL, start_new_session=True), 840)
    if rc != 0 or not os.path.isfile(CLASSPATH):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"build failed (exit {rc}); log in {log}")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_bench(args, work, deadline):
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # a fixed heap size keeps the collector's sizing the same in every run
    cmd = (["java", "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", args.workload,
              "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--work", work, "--cores", str(cores())])
    log = os.path.join(work, "bench.log")
    with open(log, "w") as fh:
        rc = wait(subprocess.Popen(cmd, cwd=ROOT, stdout=fh, stderr=subprocess.STDOUT,
                                   stdin=subprocess.DEVNULL, start_new_session=True),
                  max(1.0, deadline - time.monotonic()))
    if rc != 0:
        with open(log, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"benchmark JVM failed ({rc}); log in {log}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found at the root of the checkout")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload}")
    build()
    deadline = time.monotonic() + RUN_LIMIT_S
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        run_bench(args, work, deadline)
        with open(os.path.join(work, "record.json")) as fh:
            record = json.load(fh)
    finally:
        # keep the record and logs, drop the generated corpus
        for d in ("uploads", "corpus", "spark-local", "tmp", "warehouse"):
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)

    metrics = record["metrics"]
    for name, m in metrics.items():
        extra = "".join(f" {k}={v}" for k, v in m.items() if k not in ("value", "unit"))
        print(f"{args.workload} {name} {m['value']} {m['unit']}{extra}")
    print(f"{args.workload} input_sha256 {record['input_sha256']}")
    for f in record.get("failures", []):
        print(f"{args.workload} FAILED {f}")

    # tracing overhead: this traced run against the untraced run of the
    # same workload and seed, when one was made in this checkout
    records = os.path.join(BUILD, "records")
    os.makedirs(records, exist_ok=True)
    with open(os.path.join(records, f"{args.workload}-{args.seed}-{args.trace}.json"), "w") as fh:
        json.dump(record, fh)
    other = os.path.join(records, f"{args.workload}-{args.seed}-0.json")
    if args.trace == 1 and os.path.isfile(other):
        with open(other) as fh:
            base = json.load(fh)["metrics"]["op_p50_ms"]["value"]
        traced = metrics["op_p50_ms"]["value"]
        print(f"{args.workload} tracing_overhead {100.0 * (traced / base - 1):.1f} % "
              f"(op_p50_ms traced {traced:.1f} vs untraced {base:.1f})")

    names = spec["per_layer" if args.trace else "end_to_end"]
    out = {}
    for m in names:
        v = metrics.get(m["name"], {}).get("value")
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            fail(f"metric {m['name']} missing or not a number")
        out[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": bool(record["correct"]), "attempted": int(record["attempted"]),
                      "failed": int(record["failed"]), "metrics": out}))


if __name__ == "__main__":
    main()
