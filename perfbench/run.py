#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Builds the engine and the benchmark with sbt on
first use (or when a source is newer than the last build), then starts one
fresh JVM with the engine's run-time JVM options and relays its result: the
last line of standard output is one JSON object.
"""
import argparse
import hashlib
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
LAUNCH = os.path.join(TARGET, "launch.txt")
WORK = os.path.join(TARGET, "work")
# Fixed heap for every benchmark JVM (pre-touched by the engine's options).
HEAP = "3g"
WORKLOADS = ("skewed_corpus", "resume_table")
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the engine and the benchmark are built from."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, f) for f in names]
    return sorted(files)


def source_digest(files):
    """Digest of the build's sources: keys the output-hash records, so a
    record is only compared with runs of the same engine and benchmark."""
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compiles engine + benchmark and writes the launch spec."""
    env = dict(os.environ, SPARK_DRIVER_MEM=HEAP)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.server.forcestart=false", "-Dsbt.log.noformat=true",
           "compile", "launchSpec"]
    proc = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True, timeout=840)
    if proc.returncode != 0 or not os.path.isfile(LAUNCH):
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")


def launch_spec():
    cp, opts = None, []
    with open(LAUNCH) as f:
        for line in f:
            kind, _, value = line.rstrip("\n").partition("\t")
            if kind == "CP":
                cp = value
            elif kind == "OPT":
                opts.append(value)
    return cp, opts


T0 = time.time()


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    # accepted for the common benchmark interface; a run performs a fixed
    # sequence of operations whatever its length (see README.md)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    a = p.parse_args()

    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        fail("engine sources not found: run from a checkout of the repository")
    files = source_files()
    if not os.path.isfile(LAUNCH) or os.path.getmtime(LAUNCH) < max(map(os.path.getmtime, files)):
        build()
    cp, opts = launch_spec()
    if not cp:
        fail("launch spec has no classpath")

    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    spawn_ms = int(time.time() * 1000)
    print(f"[perfbench] build done at {time.time() - T0:.1f}s", file=sys.stderr)
    cmd = (["java"] + opts + [f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--trace", a.trace, "--spawn-ms", str(spawn_ms), "--cpus", str(cpus),
            "--work", WORK, "--build", source_digest(files)])
    # Spark prefers SPARK_LOCAL_DIRS to the spark.local.dir that
    # graft.Bench.session sets: shuffle and spill files stay in the checkout.
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write(out)
        fail(f"benchmark JVM exited with {proc.returncode}")
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    print(f"[perfbench] jvm done at {time.time() - T0:.1f}s", file=sys.stderr)
    print(lines[-1])


if __name__ == "__main__":
    main()
