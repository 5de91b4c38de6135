#!/usr/bin/env python3
"""Nightly-pass benchmark entry point.

Runs one workload of the benchmark registered in BENCHMARK.json:

    python3 perfbench/run.py --workload full_pass --seed 1 --seconds 10 \
        --trace 0

It builds the benchmark package (perfbench/build.sbt, which compiles the
engine's sources with the benchmark's own), generates the workload's
fixtures from the seed, runs the JVM side (graft.perfbench.NightlyBench),
checks every sample's outputs against the fixture manifest, and prints a
summary followed by one JSON result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 the per-layer metrics, and the spans are written as JSON
lines next to the run's observations.
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import fixtures  # noqa: E402

WORKLOADS = {"full_pass": "lake", "arrival_night": "arrival"}
MAIN_CLASS = "graft.perfbench.NightlyBench"
HEAP = "2g"
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_home():
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if not submit:
        raise SystemExit("perfbench: no Spark distribution (SPARK_HOME)")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def source_digest():
    """Digest of everything the build compiles; a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project",
                                                           "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the benchmark package once per source tree; returns the
    runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: the engine sources (src/main/scala) "
                         "are not in this checkout")
    stamp = os.path.join(HERE, "target", "perfbench-classpath.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("digest") == digest:
            return cached["classpath"]
    env = dict(os.environ, SPARK_HOME=spark_home())
    log("building the benchmark package (sbt compile)")
    p = subprocess.run(
        ["sbt", "-batch", "-no-colors", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    classpath = lines[-1].strip()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": classpath}, fh)
    return classpath


def cpu_probe():
    """The repo's canonical host probe (tools/cpu_probe.py, ops/s), taken
    with its default duration so the reading compares with its
    calibration."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from cpu_probe import probe
    return int(probe())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        registry = json.load(fh)
    classpath = build()

    work_root = os.path.join(HERE, "work")
    shutil.rmtree(work_root, ignore_errors=True)
    work = os.path.join(work_root, f"{args.workload}-{args.seed}")
    os.makedirs(work)
    t0 = time.perf_counter()
    manifest = fixtures.build(work, args.seed, WORKLOADS[args.workload])
    fixture_s = time.perf_counter() - t0
    cores = os.cpu_count() or 1
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    obs = os.path.join(work, "obs.jsonl")
    spans = os.path.join(work, "spans.jsonl")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"] +
           [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}",
            "-cp", classpath, MAIN_CLASS,
            "--workload", args.workload, "--work", work,
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores),
            "--obs", obs, "--spans", spans])
    p = subprocess.run(cmd, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-6000:])
        raise SystemExit(f"perfbench: the JVM side failed ({p.returncode})")
    with open(obs) as fh:
        records = [json.loads(line) for line in fh if line.strip()]
    host = dict(next(r for r in records if r["kind"] == "host"),
                nproc=cores, xmx=HEAP, cpu_probe_ops_s=cpu_probe(),
                fixture_s=round(fixture_s, 3),
                fixture_files=len(manifest["files"]),
                fixture_bytes=manifest["total_bytes"],
                fixture_rows=manifest["total_rows"])
    result = checks.summarize(args.workload, records, manifest, registry,
                              traced=bool(args.trace),
                              spans_path=spans if args.trace else None)
    print("host " + json.dumps(host, sort_keys=True))
    for line in result.pop("summary"):
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
