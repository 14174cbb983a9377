#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload query_suite --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source on first use (sbt, offline),
then runs one workload in one JVM (`perfbench.Main`). The JVM prints each
metric on its own line and, as the last line of standard output, one JSON
object: {"correct", "attempted", "failed", "metrics"}. The exit code is the
JVM's: 0 when every output check passed, non-zero otherwise.

Everything the run writes goes under `.bench_build/` at the checkout root.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build" / "perfbench"
CLASSPATH = OUT / "classpath.txt"
STAMP = OUT / "build.stamp"

BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src" / "main"):
        if base.is_dir():
            files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        fail("the engine's sources are not in this checkout; nothing to build")
    stamp = source_stamp()
    if CLASSPATH.is_file() and STAMP.is_file() and STAMP.read_text() == stamp:
        return CLASSPATH.read_text().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    OUT.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env.setdefault("SBT_OPTS", "-Xmx2g")
    for flag in ("-Dsbt.override.build.repos=true", "-Dsbt.offline=true"):
        if flag not in env["SBT_OPTS"]:
            env["SBT_OPTS"] += " " + flag
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file() and "sbt.repository.config" not in env["SBT_OPTS"]:
        env["SBT_OPTS"] += f" -Dsbt.repository.config={repos}"
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "compile", "export perfbench/Runtime/fullClasspath"]
    try:
        proc = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                              stderr=subprocess.STDOUT, text=True,
                              timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    sys.stderr.write(proc.stdout[-4000:])
    lines = [l for l in proc.stdout.splitlines()
             if not l.startswith("[") and ".jar" in l]
    if proc.returncode != 0 or not lines:
        fail(f"build failed (exit {proc.returncode})")
    cp = lines[-1].strip()
    CLASSPATH.write_text(cp)
    STAMP.write_text(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp = build()
    tmp = OUT / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    env["SPARK_LOCAL_DIRS"] = str(tmp)
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={OUT / 'warehouse'}",
        f"-Dderby.system.home={OUT / 'derby'}",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--out", str(OUT), "--expected", str(HERE / "expected"),
    ]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env)
    try:
        return proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        # the JVM removes its work directory itself unless it was killed
        for leftover in (OUT / "work").glob(f"*-{proc.pid}"):
            shutil.rmtree(leftover, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
