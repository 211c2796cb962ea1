#!/usr/bin/env python3
"""Benchmark entry point for the KG chain.

Run from the root of a checkout:

    python3 kgbench/run.py --workload batch_table --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark with sbt when their sources changed
(the program through the repository's own build.sbt), then starts one fresh
JVM for the run and passes its output through. The last line of stdout is
the result JSON. Inputs, build stamps and Spark scratch space live under
.bench_build/ in the checkout.
"""
import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build")
# the JVM heap of every run, pinned and pre-touched by the build's javaOptions
HEAP = "4g"
RUN_TIMEOUT_S = 175


def fail(msg, code=2):
    print(f"[kgbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def stamp():
    h = hashlib.sha256(HEAP.encode())
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return (classpath, jvm options)."""
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp_file = os.path.join(STATE, "build.stamp")
    want = stamp()
    have = open(stamp_file).read() if os.path.exists(stamp_file) else ""
    if have != want or not os.path.exists(launch):
        env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM=HEAP)
        cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true", "launchFile"]
        print("[kgbench] building with sbt", file=sys.stderr)
        r = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            fail(f"sbt build failed with code {r.returncode}")
        os.makedirs(STATE, exist_ok=True)
        with open(stamp_file, "w") as fh:
            fh.write(want)
    lines = open(launch).read().splitlines()
    return lines[0], lines[1:]


def main():
    for needed in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, needed)):
            fail(f"no {needed} in {ROOT}: run from the root of a full checkout")
    cp, jvm = build()
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    # Spark would put its scratch space there instead of inside the checkout
    env.pop("SPARK_LOCAL_DIRS", None)
    cmd = ["java"] + jvm + [f"-Djava.io.tmpdir={tmp}", "-cp", cp,
                            "graft.kgbench.Main"] + sys.argv[1:]
    p = subprocess.Popen(cmd, cwd=ROOT, env=env)
    try:
        code = p.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s and was stopped", code=3)
    sys.exit(code)


if __name__ == "__main__":
    main()
