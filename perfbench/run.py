#!/usr/bin/env python3
"""Benchmark launcher: builds the program and the benchmark from the
checkout's sources when they changed, then runs one workload in one JVM.

    python3 perfbench/run.py --workload raster_export --seed 1 --seconds 8 --trace 0

Run it from the root of a checkout. Everything it builds or writes stays in
`.bench_build/` there. The last line of standard output is the JSON result;
on any failure the launcher prints no result and exits non-zero.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("raster_export", "raster_zonal", "catalog_mix")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
              os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in inputs:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def built():
    """The classpath and the JVM options the build wrote (build.sbt's writeClasspath)."""
    with open(os.path.join(BUILD, "sbt", "classpath.txt")) as c:
        cp = c.read().strip()
    with open(os.path.join(BUILD, "sbt", "jvm-options.txt")) as o:
        return cp, o.read().split()


def build():
    outputs = [os.path.join(BUILD, "sbt", f) for f in ("classpath.txt", "jvm-options.txt")]
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if all(os.path.exists(p) for p in outputs + [stamp_file]):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return built()
    env = dict(os.environ, COURSIER_MODE="offline")
    # no hsperfdata files in the system temp directory
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                                 "writeClasspath"], cwd=HERE, env=env, stdout=log,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0:
        with open(log_path) as log:
            sys.stderr.write(log.read()[-4000:])
        fail(f"build failed (exit {rc}); log in {log_path}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return built()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no program sources under {os.path.join(ROOT, 'src', 'main', 'scala')}: "
             "run from the root of a full checkout")
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    cp, jvm_options = build()
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}"]
           + jvm_options
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--data", os.path.join(HERE, "data", "sf0.001"),
              "--work", os.path.join(BUILD, "work")])
    try:
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                           text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"{a.workload} did not finish within {RUN_TIMEOUT_S} s")
    lines = p.stdout.rstrip("\n").split("\n")
    try:
        result = json.loads(lines[-1])
        ok = set(result) == {"correct", "attempted", "failed", "metrics"}
    except ValueError:
        ok = False
    if p.returncode != 0 or not ok:
        sys.stderr.write(p.stdout)
        fail(f"{a.workload} exited with {p.returncode} and no result")
    print(p.stdout, end="" if p.stdout.endswith("\n") else "\n")


if __name__ == "__main__":
    main()
