#!/usr/bin/env python3
"""KG-build benchmark: one command, run from the repository root.

    python3 kgbench/run.py --workload <full_build|append|alias_heavy> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source (kgbench/build.py), then
runs the workload in one JVM at local[<all cores>]. With --trace 0 the
last stdout line carries the end-to-end metrics; with --trace 1 the
per-layer split. See kgbench/NOTES.md.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import build  # noqa: E402

DEADLINE_S = 170
HEAP = "2g"
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def jvm(classes, work, args, deadline):
    """Run KgBench in a fresh JVM; return (exit code, last stdout line)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false", *ADD_OPENS,
           "-cp", cp, "kgbench.KgBench", *args, "--work", work]
    p = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE,
                         text=True)
    try:
        out, _ = p.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise SystemExit("kgbench: JVM ran past the deadline; killed")
    except BaseException:  # SIGTERM/SIGINT: never leave the JVM running
        p.kill()
        p.wait()
        raise
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    return p.returncode, (lines[-1] if lines else None)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classes = build.build()
    deadline = time.monotonic() + DEADLINE_S
    work = os.path.join(build.BUILD, "work",
                        f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        code, line = jvm(classes, work, [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace)], deadline)
        if line is None:
            raise SystemExit(f"kgbench: no result (JVM exit {code})")
        print(line)
        sys.exit(code)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
