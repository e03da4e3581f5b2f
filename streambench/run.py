#!/usr/bin/env python3
"""Runs one workload of the streaming benchmark and prints its result.

    python3 streambench/run.py --workload backfill_replay --seed 1 --seconds 10 --trace 0
    python3 streambench/run.py --selftest

Run from the root of a checkout. The first run builds the harness and the
engine sources with sbt (offline) into streambench/target; later runs
reuse the build while the sources are unchanged. The run's scratch files
live under streambench/work and are removed when it ends; traced runs
keep their spans in streambench/work/traces. The last line of standard
output is the result object; logs go to standard error.
"""

import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
TARGET = BENCH / "target"
WORKLOADS = ("backfill_replay", "dashboard_live")
# A run must end within 180 s; the harness is stopped before that.
RUN_TIMEOUT_S = 170
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"streambench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    engine = ROOT / "src" / "main" / "scala"
    if not (engine / "graft").is_dir():
        fail(f"engine sources not found under {engine}; run from a checkout of the repository")
    files = sorted(engine.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    return files + [BENCH / "build.sbt", BENCH / "project" / "build.properties"]


def build():
    """Compiles the harness and engine; returns the runtime classpath."""
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp, cp_file = TARGET / "bench.stamp", TARGET / "bench.classpath"
    if stamp.exists() and cp_file.exists() and stamp.read_text() == digest.hexdigest():
        return cp_file.read_text().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join(filter(None, [
        env.get("SBT_OPTS", ""), "-Dsbt.offline=true", "-Dsbt.override.build.repos=true"]))
    started = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        stdin=subprocess.DEVNULL)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout)
        fail("build failed")
    TARGET.mkdir(exist_ok=True)
    cp_file.write_text(lines[-1])
    stamp.write_text(digest.hexdigest())
    print(f"streambench: built in {time.time() - started:.0f} s", file=sys.stderr)
    return lines[-1]


def java(cp, main_class, args, work):
    cmd = ["java", "-Xmx3g", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
           f"-Djava.io.tmpdir={work / 'tmp'}"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, main_class] + args


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        fail("--workload is required")
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    cp = build()
    work = BENCH / "work" / f"run-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    if a.selftest:
        args, main_class = [str(BENCH)], "streambench.SelfTest"
    else:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--bench-dir", str(BENCH), "--work-dir", str(work)]
        main_class = "streambench.Main"
    proc = subprocess.Popen(java(cp, main_class, args, work), stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)
        fail(f"harness exited with code {proc.returncode}")
    sys.stderr.write("\n".join(lines[:-1]) + ("\n" if len(lines) > 1 else ""))
    print(lines[-1])


if __name__ == "__main__":
    main()
