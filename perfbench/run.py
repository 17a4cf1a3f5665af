#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark runner from source with sbt (perfbench/build.sbt) and caches the
runner's classpath in .bench_build/; later runs start the JVM directly.
The runner's result object is the last line printed to standard output.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
STATE = ROOT / ".bench_build"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850

# The engine's sources and build, and the runner's; a change to any of them
# rebuilds.
REQUIRED = ["build.sbt", "project/build.properties", "src/main/scala/graft/SparkEntry.scala",
            "dev/check_oracle.py"]
STAMPED = ["build.sbt", "project", "src/main", "perfbench/build.sbt", "perfbench/project",
           "perfbench/src/main", "perfbench/run.py"]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    for rel in STAMPED:
        base = ROOT / rel
        files = [base] if base.is_file() else sorted(
            p for p in base.rglob("*") if p.is_file() and "target" not in p.relative_to(ROOT).parts)
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def run_bounded(cmd, cwd, limit_s):
    """Runs cmd in its own process group and returns its exit code and
    standard output; kills the group at the time limit."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log(f"{cmd[0]} exceeded {limit_s:.0f} s and was stopped")
        return None, ""
    return proc.returncode, out or ""


def classpath():
    stamp = source_stamp()
    cp_file, stamp_file = STATE / "classpath.txt", STATE / "stamp.txt"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    log("building the engine and the benchmark runner")
    env_opts = os.environ.get("SBT_OPTS", "")
    os.environ.setdefault("COURSIER_MODE", "offline")
    if "sbt.offline" not in env_opts:
        os.environ["SBT_OPTS"] = (env_opts + " -Dsbt.offline=true").strip()
    code, out = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                             "export Runtime/fullClasspathAsJars"], HERE, BUILD_LIMIT_S)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        sys.stderr.write(out)
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    STATE.mkdir(exist_ok=True)
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    (STATE / "classes.jsa").unlink(missing_ok=True)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    args = ap.parse_args()

    missing = [r for r in REQUIRED if not (ROOT / r).exists()]
    if missing:
        raise SystemExit(f"not a checkout of the engine: missing {', '.join(missing)}")
    cp = classpath()

    tmp = STATE / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # class-data sharing: the first run after a build archives the classes it
    # loaded, later runs map them instead of loading them again
    cds = STATE / "classes.jsa"
    cds_flag = (f"-XX:SharedArchiveFile={cds}" if cds.exists() else f"-XX:ArchiveClassesAtExit={cds}")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xmx3g", "-XX:+UseParallelGC", cds_flag, f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--root", str(ROOT), "--work", str(STATE / "work" / args.workload)])
    t0 = time.monotonic()
    code, out = run_bounded(cmd, ROOT, RUN_LIMIT_S)
    log(f"runner exited with {code} after {time.monotonic() - t0:.1f} s")
    lines = out.splitlines()
    result = None
    for i in range(len(lines) - 1, -1, -1):
        try:
            obj = json.loads(lines[i])
        except ValueError:
            continue
        if isinstance(obj, dict) and set(obj) == {"correct", "attempted", "failed", "metrics"}:
            result = i
            break
    if code != 0 or result is None:
        sys.stderr.write(out)
        raise SystemExit("the runner produced no result")
    for i, line in enumerate(lines):
        if i != result:
            print(line)
    print(lines[result], flush=True)


if __name__ == "__main__":
    main()
