#!/usr/bin/env python3
"""Benchmark entry point: builds the harness if needed, runs one workload.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload demo_day --seed 1 --seconds 30 --trace 0

Workloads: demo_day, query_mix (see perfbench/README.md). The last
line of standard output is one JSON object with the keys correct,
attempted, failed and metrics; the exit code is 1 when an output check
failed. The line before it is the harness's full record, which is also
kept under .bench_build/perfbench/records/.

The first run in a checkout compiles the program and the harness with
sbt (perfbench/build.sbt); later runs reuse the build while the sources
are unchanged and start the JVM directly.
"""
import argparse
import hashlib
import json
import os
import selectors
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

WORKLOADS = ("demo_day", "query_mix")
RUN_LIMIT_S = 170  # one measured run, build excluded
BUILD_LIMIT_S = 700  # with one run, within the first run's 900 s
HEAP = "3g"
# Spark on JDK 17 outside spark-submit (the program's build.sbt uses the same list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# what the build depends on, relative to the checkout root
BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"]
# what a run reads besides the build
RUN_INPUTS = ["configs/demo", "perfbench/conf", "perfbench/expected"]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash(root):
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        p = root / rel
        files = sorted(f for f in p.rglob("*") if f.is_file()) if p.is_dir() else [p]
        for f in files:
            h.update(str(f.relative_to(root)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build(root, out):
    """Returns the harness's runtime classpath, compiling first if the
    sources changed since the last build in this checkout."""
    stamp = out / "build.json"
    digest = source_hash(root)
    if stamp.exists():
        prev = json.loads(stamp.read_text())
        cp = prev.get("classpath", "")
        if prev.get("hash") == digest and cp and all(
                Path(e).exists() for e in cp.split(os.pathsep)):
            return cp
    print("[perfbench] building (sbt compile)", file=sys.stderr)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=root / "perfbench", stdout=subprocess.PIPE, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, text=True, timeout=BUILD_LIMIT_S)
    lines = proc.stdout.splitlines()
    cps = [l.strip() for l in lines if ".jar" in l and os.pathsep in l
           and not l.startswith("[")]
    if proc.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {proc.returncode})")
    out.mkdir(parents=True, exist_ok=True)
    stamp.write_text(json.dumps({"hash": digest, "classpath": cps[-1]}))
    return cps[-1]


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="rewrite perfbench/expected from this checkout's results")
    a = ap.parse_args()

    root = Path.cwd()
    missing = [p for p in BUILD_INPUTS + RUN_INPUTS if not (root / p).exists()]
    if missing:
        fail("not the root of a checkout of the program: missing " + ", ".join(missing))
    out = root / ".bench_build" / "perfbench"
    cp = build(root, out)

    work = out / f"work-{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    cmd = (["java", f"-Xmx{HEAP}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", str(work), "--cpus", str(cpus())]
           + (["--record"] if a.record else []))
    (work / "tmp").mkdir(parents=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "tmp"))
    proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, text=True,
                            stdin=subprocess.DEVNULL, env=env, start_new_session=True)
    lines = []
    try:
        deadline = time.monotonic() + RUN_LIMIT_S
        sel = selectors.DefaultSelector()
        sel.register(proc.stdout, selectors.EVENT_READ)
        while True:
            left = deadline - time.monotonic()
            if left <= 0:
                raise subprocess.TimeoutExpired(cmd, RUN_LIMIT_S)
            if not sel.select(timeout=min(left, 5.0)):
                continue
            line = proc.stdout.readline()
            if not line:
                break
            lines.append(line.rstrip("\n"))
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_LIMIT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    if code != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"harness exited {code}")
    if a.record:
        return
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("harness printed no result")
    record = lines[-2] if len(lines) > 1 else "{}"
    recdir = out / "records"
    recdir.mkdir(parents=True, exist_ok=True)
    (recdir / f"{a.workload}-seed{a.seed}-trace{a.trace}.json").write_text(record + "\n")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))
    if not result["correct"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
