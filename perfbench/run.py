#!/usr/bin/env python3
"""Run one benchmark workload from the root of a checkout.

    python3 perfbench/run.py --workload replay|live|suite --seed N \
        --seconds S --trace 0|1

Builds the harness (perfbench/build.sbt, which compiles the repository's
main sources with it) when the sources changed since the last build, then
starts it with plain `java`. The harness prints a detail line and, as the
last stdout line, the result JSON. Everything it writes stays inside the
checkout: build output under perfbench/target and .bench_build/.
"""
import argparse
import hashlib
import os
import pathlib
import subprocess
import sys

ROOT = pathlib.Path.cwd()
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"
CLASSPATH = BENCH / "target" / "classpath.txt"
STAMP = BUILD / "build.stamp"
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 175

# Spark on JDK 17 outside spark-submit needs these (the repository's
# build.sbt passes the same list to its forked runs).
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
    roots = [ROOT / "src" / "main", BENCH / "src" / "main"]
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(want):
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
        repos = pathlib.Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    res = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "writeClasspath"],
        cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if res.returncode != 0 or not CLASSPATH.is_file():
        sys.exit("perfbench: build failed")
    BUILD.mkdir(exist_ok=True)
    STAMP.write_text(want)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["replay", "live", "suite"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        sys.exit("perfbench: run from the root of a checkout (src/main/scala/graft not found)")
    want = stamp()
    if not (CLASSPATH.is_file() and STAMP.is_file() and STAMP.read_text() == want):
        build(want)
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # a heap cap, not a fixed or pre-touched heap: G1 grows the heap
        # as the program needs it
        "-Xmx3g",
        # no hsperfdata file in the system temp directory
        "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-cp", CLASSPATH.read_text().strip(), "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace]
    try:
        res = subprocess.run(cmd, cwd=ROOT, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.exit("perfbench: run timed out")
    sys.exit(res.returncode)


if __name__ == "__main__":
    main()
