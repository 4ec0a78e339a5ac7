#!/usr/bin/env python3
"""Run one benchmark workload of graft and print its result.

    python3 perfbench/run.py --workload recsys --seed 1 --seconds 1 --trace 0

Run from the repository root. An untraced run times set-up and one cold
pass; with --trace 1 warm passes follow until --seconds have passed (at
least two), and the per-layer metrics are reported instead. The first run builds the library and the
benchmark with sbt (offline) into the checkout; later runs start the JVM
directly. The last stdout line is one JSON object with `correct`,
`attempted`, `failed` and `metrics`; a stamped detail file (host, seed,
per-pass figures, spans) is written under .bench_build/results/.
"""
import argparse
import hashlib
import os
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
SF = "sf0.01"
WORKLOADS = ("recsys", "dataprep")
RUN_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit needs these (the list the
# library's own build passes to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def sources():
    """Every file the build reads, relative to the root."""
    for top in ("src/main", "project", "perfbench/src/main", "perfbench/project"):
        for d, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                yield os.path.relpath(os.path.join(d, f), ROOT)
    yield "build.sbt"
    yield "perfbench/build.sbt"


def build():
    """Compile with sbt unless the sources are unchanged since the last
    build; returns the runtime classpath."""
    digest = hashlib.sha256()
    for rel in sources():
        digest.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")))
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=sys.stderr, text=True, timeout=800)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(out.stdout)
        sys.exit("perfbench: build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "--short", "HEAD"],
                              cwd=ROOT, capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except OSError:
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    a = ap.parse_args()
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        sys.exit("perfbench: run from the root of a graft checkout "
                 "(build.sbt and src/main/scala/graft not found)")
    classpath = build()
    run_dir = os.path.join(BUILD, "run")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(run_dir, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--data", os.path.join(BENCH, "data", SF),
            "--sf", "perfbench/data/" + SF,
            "--expected", os.path.join(BENCH, "expected", SF + ".json"),
            "--out", os.path.join(BUILD, "results"),
            "--commit", commit()]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit("perfbench: run timed out")
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write(out)
        sys.exit("perfbench: run failed (exit %d)" % proc.returncode)
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
