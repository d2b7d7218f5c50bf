#!/usr/bin/env python3
"""Builds the graft engine and the benchmark's engine-side program from source.

Compiles the engine (src/main/scala of the checkout) together with the
benchmark's own Scala sources (graftbench/src) with the Scala 2.13
compiler that ships among the Spark jars, into <build dir>/classes. The
build dir is $CARGO_TARGET_DIR when set, else .bench_build, relative to
the checkout root. A stamp of the sources' hash skips an up-to-date
build. Exits non-zero when the engine sources are missing.

Usage: build.py   (from anywhere; paths are resolved from this file)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read()) \
        if os.path.exists(sbt) else None
    return m.group(1) if m else "jars"


SPARK_JARS = _spark_jars()


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def classes_dir():
    return os.path.join(build_dir(), "classes")


def classpath():
    return classes_dir() + os.pathsep + os.path.join(SPARK_JARS, "*")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return engine, bench


def build():
    engine, bench = sources()
    if not engine:
        sys.exit(f"build: no engine sources under {ROOT}/src/main/scala")
    h = hashlib.sha256()
    for p in engine + bench:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(classes_dir(), ".stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    compiler = sorted(glob.glob(os.path.join(SPARK_JARS, "scala-*-2.13.*.jar")))
    compiler += glob.glob(os.path.join(SPARK_JARS, "jline-3*.jar"))
    compiler += glob.glob(os.path.join(SPARK_JARS, "java-diff-utils-*.jar"))
    if not any("scala-compiler" in c for c in compiler):
        sys.exit(f"build: no scala-compiler jar in {SPARK_JARS}")
    shutil.rmtree(classes_dir(), ignore_errors=True)
    os.makedirs(classes_dir())
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", classes_dir(), "-classpath", os.path.join(SPARK_JARS, "*")]
    r = subprocess.run(cmd + engine + bench, cwd=ROOT,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit(f"build: scalac exited {r.returncode}")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())


if __name__ == "__main__":
    build()
