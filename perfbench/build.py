#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's JVM side (perfbench/src) into perfbench/.build/classes.

It calls the Scala compiler that ships in the Spark distribution directly
(the same jars the repository's sbt build compiles against), so a build
writes nothing outside perfbench/.build. A build is skipped when a hash
of every source file matches the one recorded by the last build.

Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(BENCH_DIR, ".build")
CLASSES = os.path.join(BUILD_DIR, "classes")
STAMP = os.path.join(BUILD_DIR, "sources.sha256")


def spark_jars_dir():
    """$SPARK_HOME/jars, or else the jar directory the repository's sbt build
    names as its `unmanagedBase`."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build: set SPARK_HOME to a Spark 4.1 distribution")
    return m.group(1)


def spark_classpath():
    jars = sorted(glob.glob(os.path.join(spark_jars_dir(), "*.jar")))
    if not jars:
        raise SystemExit(f"build: no Spark jars under {spark_jars_dir()}")
    return jars


def sources():
    srcs = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not srcs:
        raise SystemExit(f"build: no program sources under {ROOT}/src/main/scala")
    return srcs + sorted(glob.glob(os.path.join(BENCH_DIR, "src", "*.scala")))


def source_hash(srcs):
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile if the sources changed; return the runtime classpath."""
    srcs = sources()
    cp = spark_classpath()
    digest = source_hash(srcs)
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return [CLASSES] + cp
    shutil.rmtree(BUILD_DIR, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    print(f"build: compiling {len(srcs)} files", file=sys.stderr, flush=True)
    subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(cp),
         "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(cp),
         "-d", CLASSES, "@" + argfile],
        check=True, stdout=sys.stderr)
    with open(STAMP, "w") as f:
        f.write(digest)
    return [CLASSES] + cp


if __name__ == "__main__":
    build()
