#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the engine sources
(`src/main/scala`) together with the benchmark's own Scala sources
(`perfbench/scala`) into `.bench_build/classes`, with the Scala compiler
that ships in Spark's jar directory. A stamp over every source's path and
content makes an unchanged tree a no-op.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE_DIRS = ["src/main/scala", "perfbench/scala"]
BUILD_DIR = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD_DIR, "classes")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("Spark's jar directory not found (set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("java not found (set JAVA_HOME)")
    return exe


def sources():
    found = {}
    for d in SOURCE_DIRS:
        for base, _, files in os.walk(os.path.join(ROOT, d)):
            found[d] = found.get(d, 0)
            for f in files:
                if f.endswith(".scala"):
                    found[d] += 1
                    yield os.path.join(base, f)
    missing = [d for d in SOURCE_DIRS if not found.get(d)]
    if missing:
        raise BuildError(f"no Scala sources under {', '.join(missing)}")


def build():
    """Compile if the sources changed; return the classes directory."""
    srcs = sorted(sources())
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    stamp_file = os.path.join(CLASSES, ".stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return CLASSES
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(BUILD_DIR, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(
        [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
         "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp,
         "@" + args_file],
        stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"scalac exited {r.returncode}")
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    return CLASSES


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(1)
