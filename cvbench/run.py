#!/usr/bin/env python3
"""Run one workload of the cloudvolumespark benchmark and print its result.

    python3 cvbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine from the
checkout's sources together with the benchmark program (sbt, offline); later
runs reuse the build while no source file changed. Every run generates its
own layers under .bench_build/cvbench/, checks every result, and prints one
JSON object as the last line of standard output. See cvbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_build" / "cvbench"
WORKLOADS = ("cutout_bulk", "lookup_small")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850

# Spark on JDK 17 outside spark-submit needs these opens (the list of
# org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"cvbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    roots = [ROOT / "build.sbt", ROOT / "project", ROOT / "src" / "main",
             HERE / "build.sbt", HERE / "project", HERE / "src"]
    for r in roots:
        files = [r] if r.is_file() else sorted(
            p for p in r.rglob("*") if p.is_file() and "target" not in p.parts)
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile engine + benchmark; return the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no engine sources under {ROOT} (build.sbt, src/main/scala)")
    WORK.mkdir(parents=True, exist_ok=True)
    stamp_file, cp_file = WORK / "build.stamp", WORK / "classpath"
    stamp = source_stamp()
    if stamp_file.is_file() and cp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS") or "") + (
        " -Dsbt.override.build.repos=true"
        " -Dsbt.repository.config=" + str(Path.home() / ".sbt" / "repositories") +
        " -Dsbt.offline=true -Xmx2g -XX:-UsePerfData")
    t = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
    if r.returncode != 0:
        fail(f"build failed (exit {r.returncode})")
    cp = (HERE / "target" / "cvbench.classpath").read_text().strip()
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    print(f"cvbench: built in {time.time() - t:.1f} s", file=sys.stderr)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-wrong", default=None,
                    help="comma list of op ids whose expectation is corrupted (self-test)")
    a = ap.parse_args()
    cp = build()  # a first run may build; the run limit starts after it
    cores = max(1, min(4, os.cpu_count() or 1))
    tag = f"{a.workload}-{a.seed}-{os.getpid()}"
    data = WORK / "data" / tag
    tmp = WORK / "tmp" / tag
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-Xms3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "cvbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores),
            "--data", str(data), "--reports", str(WORK / "reports")]
    if a.inject_wrong is not None:
        cmd += ["--inject-wrong", a.inject_wrong]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_LIMIT_S} s")
    finally:
        shutil.rmtree(data, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        fail(f"benchmark JVM exited {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
