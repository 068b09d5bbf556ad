#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main) together with
the benchmark's own sources (perfbench/src) into .bench_build/classes, with
the Scala compiler that ships in Spark's jar directory.

The build is skipped when a stamp of every source file's path and content
matches the last build. Run it alone with `python3 perfbench/build.py`.
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the one bundled with pyspark."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        import pyspark
        cands.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in cands:
        if glob.glob(os.path.join(c, "spark-core_*.jar")) and \
                glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    raise BuildError("no Spark jar directory with a Scala compiler (set SPARK_HOME)")


def java(tool="java"):
    home = os.environ.get("JAVA_HOME")
    path = os.path.join(home, "bin", tool) if home else shutil.which(tool)
    if not path or not os.path.exists(path):
        raise BuildError(f"{tool} not found (set JAVA_HOME)")
    return path


def sources():
    main = os.path.join(ROOT, "src", "main")
    if not os.path.isdir(os.path.join(main, "scala")):
        raise BuildError(f"engine sources missing: {main}/scala")
    found = []
    for base in (main, os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(found)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_built():
    """Returns the classes directory, compiling first if a source changed."""
    files = sources()
    jars = spark_jars()
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        want = stamp(files)
        stamp_file = os.path.join(CLASSES, ".stamp")
        if os.path.exists(stamp_file) and open(stamp_file).read() == want:
            return CLASSES
        tmp = CLASSES + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        cp = os.path.join(jars, "*")
        argfile = os.path.join(OUT, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(files) + "\n")
        # scalac reads the Java sources for their signatures; javac then
        # compiles them against the Scala classes
        subprocess.run([java(), "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile], check=True)
        javas = [f for f in files if f.endswith(".java")]
        if javas:
            subprocess.run([java("javac"), "-nowarn", "-proc:none", "-d", tmp,
                            "-cp", tmp + os.pathsep + cp] + javas, check=True)
        with open(os.path.join(tmp, ".stamp"), "w") as fh:
            fh.write(want)
        shutil.rmtree(CLASSES, ignore_errors=True)
        os.rename(tmp, CLASSES)
        return CLASSES


if __name__ == "__main__":
    try:
        print(ensure_built())
    except (BuildError, subprocess.CalledProcessError) as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
