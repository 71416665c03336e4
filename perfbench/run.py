#!/usr/bin/env python3
"""Run one workload of the klogs-spark benchmark.

    python3 perfbench/run.py --workload logs --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and the
benchmark with sbt (offline); later runs reuse the build while no source is
newer than it. The last stdout line is the result JSON. Workloads: logs (the
log table's reads, then its ingest), llm_corpus; `all` runs both in one JVM,
one result line each.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
OUT = ROOT / ".bench_build" / "perfbench"
CLASSPATH = BENCH / "target" / "bench.classpath"
WORKLOADS = ["logs", "llm_corpus"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 420

# Spark on JDK 17 outside spark-submit needs these (the same list the
# repository's build passes to forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# A fixed heap and young generation under the parallel collector keep peak
# RSS from depending on GC timing. Metaspace starts large enough for Spark's
# and the generated classes: otherwise each time it fills, a full collection
# runs, the last of them in the middle of the measured work. JVM warnings go
# to stderr: stdout carries only the benchmark's lines.
JVM_OPTS = ["-XX:+UseParallelGC", "-Xms3g", "-Xmx3g", "-Xmn512m", "-XX:MetaspaceSize=256m",
            "-Xlog:disable", "-Xlog:all=warning:stderr"]


def newest_source():
    newest = 0.0
    for top in (ROOT / "src" / "main", BENCH / "src", ROOT / "build.sbt", BENCH / "build.sbt"):
        paths = top.rglob("*") if top.is_dir() else [top]
        for p in paths:
            if p.is_file():
                newest = max(newest, p.stat().st_mtime)
    return newest


def build():
    if CLASSPATH.exists() and CLASSPATH.stat().st_mtime >= newest_source():
        return True
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "").split()
    if not opts:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    # sbt's own state stays inside the checkout too
    sbt_home = ROOT / ".bench_build" / "sbt"
    opts += [f"-Dsbt.global.base={sbt_home / 'global'}", f"-Dsbt.boot.directory={sbt_home / 'boot'}",
             f"-Dsbt.ivy.home={sbt_home / 'ivy'}"]
    env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building with sbt", file=sys.stderr, flush=True)
    try:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return False
    return r.returncode == 0 and CLASSPATH.exists()


def java(args, work, **kw):
    cmd = ["java"] + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS] + JVM_OPTS + [
        f"-Djava.io.tmpdir={work}", "-Dspark.ui.enabled=false",
        "-cp", CLASSPATH.read_text().strip(), "perfbench.Main"] + args + ["--work", str(work)]
    # few malloc arenas: native memory, and so peak RSS, varies less run to run
    env = dict(os.environ, MALLOC_ARENA_MAX="2")
    work.mkdir(parents=True, exist_ok=True)
    try:
        return subprocess.run(cmd, cwd=ROOT, env=env, **kw).returncode
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run takes its child JVM or sbt down with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not build():
        sys.exit(2)
    OUT.mkdir(parents=True, exist_ok=True)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace)]
    try:
        code = java(args, OUT / f"work-{os.getpid()}", timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print("perfbench: run timed out", file=sys.stderr)
        sys.exit(3)
    sys.exit(code)


if __name__ == "__main__":
    main()
