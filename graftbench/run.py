#!/usr/bin/env python3
"""Run one graft benchmark workload.

    python3 graftbench/run.py --workload er_resolve --seed 1 --seconds 15 --trace 0

Run from the root of a graft checkout. The first run compiles graft and the
benchmark from the checkout's sources with sbt (offline) and caches the
launch command under .bench_build/; later runs reuse it until a source or
build file changes. The benchmark JVM prints progress lines and, as its
last stdout line, one JSON object with the run's metrics. Exit status 0
means every op succeeded and every correctness gate held.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("er_resolve", "corpus_index")
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800


def fail(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: graft's and the benchmark's sources and build files."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Returns (classpath, jvm options), compiling first if the sources changed."""
    for need in ("build.sbt", os.path.join("project", "build.properties"), os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found under {ROOT}: run from the root of a graft checkout")
    want = digest(source_files())
    cache = os.path.join(WORK, "launch.json")
    if os.path.exists(cache):
        with open(cache) as fh:
            launch = json.load(fh)
        if launch["digest"] == want and all(os.path.exists(p) for p in launch["cp"].split(os.pathsep)):
            return launch["cp"], launch["opts"]
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    print("graftbench: building graft and the benchmark with sbt", file=sys.stderr)
    res = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "graftbench/launch"],
                         cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if res.returncode != 0:
        fail(f"sbt build failed with status {res.returncode}", 1)
    with open(os.path.join(HERE, "target", "launch.txt")) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    launch = {"digest": want, "cp": lines[0], "opts": lines[1:]}
    os.makedirs(WORK, exist_ok=True)
    with open(cache, "w") as fh:
        json.dump(launch, fh)
    return launch["cp"], launch["opts"]


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    cp, graft_opts = build()
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "spark-local")):
        os.makedirs(d, exist_ok=True)
    # graft's own JVM options, with this benchmark's fixed heap in place of
    # the build's default, and every scratch directory inside .bench_build
    jvm = [o for o in graft_opts if not o.startswith(("-Xmx", "-Xms"))] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={os.path.join(WORK, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
    ]
    cmd = ["java"] + jvm + ["-cp", cp, "graftbench.Main",
                            "--workload", a.workload, "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", WORK]
    sys.stdout.flush()
    proc = subprocess.Popen(cmd, cwd=tmp, stdin=subprocess.DEVNULL)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"graftbench: {a.workload} did not finish within {RUN_TIMEOUT_S} s", file=sys.stderr)
        code = 1
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    sys.exit(code)


if __name__ == "__main__":
    main()
