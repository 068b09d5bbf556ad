#!/usr/bin/env python3
"""Runs one benchmark workload in its own JVM and prints its result.

usage: python3 perfbench/run.py --workload <trickle_beats|curation_suite>
                                --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source first (see build.py). The
JVM prints a host record and, as its last line, one JSON object with
`correct`, `attempted`, `failed` and `metrics`; this script relays that
line as its own last line. Scratch data lives under .bench_build/work and
is removed when the run ends. The exit code is non-zero when the build
fails, the run fails or times out, or an output check fails.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("trickle_beats", "curation_suite")
TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run unwinds through the handlers below, which stop the
    # compiler or the JVM before exiting
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    try:
        classes = build.ensure_built()
        jars = build.spark_jars()
        java = build.java()
    except (build.BuildError, subprocess.CalledProcessError) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    work = os.path.join(build.OUT, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = [java, f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-Xss4m",
           f"-Djava.io.tmpdir={work}/tmp",
           # deep enough call sites to reach the owning engine frame
           "-Dspark.callstack.depth=200",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--data", os.path.join(build.HERE, "data")]
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env, cwd=work)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: {args.workload} exceeded {TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    lines = [ln for ln in out.splitlines() if ln.strip()]
    print("\n".join(lines))
    if proc.returncode != 0 or not lines or '"correct"' not in lines[-1]:
        print(f"perfbench: {args.workload} failed (exit {proc.returncode})", file=sys.stderr)
        return proc.returncode or 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
