#!/usr/bin/env python3
"""Compile the program (src/main/scala) and the benchmark (perfbench/src)
into .bench_build/classes with the Scala compiler that ships among the Spark
jars the sbt build uses (`unmanagedBase` in build.sbt). Skips the compile
when the sources are unchanged.

Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")


def spark_jars():
    """The Spark jar directory of the sbt build, or None."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        return None
    return m.group(1) if m else None


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench", "src", "*.scala")))
    return program, bench


def build():
    """Returns 0 when .bench_build/classes is up to date, non-zero otherwise."""
    program, bench = sources()
    if not program:
        print("perfbench: no program sources under src/main/scala", file=sys.stderr)
        return 2
    jar_dir = spark_jars()
    if jar_dir is None or not os.path.isdir(jar_dir):
        print(f"perfbench: Spark jars (unmanagedBase in build.sbt) not found: {jar_dir}", file=sys.stderr)
        return 2
    digest = hashlib.sha256()
    for path in program + bench:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp = os.path.join(CLASSES, ".stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return 0
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("".join(f'"{p}"\n' for p in program + bench))
    jars = os.path.join(jar_dir, "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
           "-classpath", jars, "-d", tmp, "-nowarn", "@" + argfile]
    print(f"perfbench: compiling {len(program)} program and {len(bench)} benchmark sources",
          file=sys.stderr)
    rc = subprocess.run(cmd, cwd=ROOT).returncode
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        return rc
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(digest.hexdigest())
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    return 0


if __name__ == "__main__":
    sys.exit(build())
