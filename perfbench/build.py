#!/usr/bin/env python3
"""Builds the engine (src/main) and the benchmark harness into one class
directory with the Scala compiler that ships in the Spark install.

    python3 perfbench/build.py          # from the repository root

Prints the class directory. A build whose sources are unchanged is
reused: the stamp file holds a hash of every source it compiled.
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
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "stamp")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def spark_jars():
    """`$SPARK_HOME/jars`, else the jar directory the repository's own
    build.sbt compiles against (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read()) \
        if os.path.exists(sbt) else None
    if not m:
        sys.exit("perfbench/build.py: set SPARK_HOME to the Spark install")
    return m.group(1)


def sources():
    found = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "harness")):
        found += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    if not any(f.startswith(os.path.join(ROOT, "src")) for f in found):
        sys.exit("perfbench/build.py: no engine sources under src/main/scala")
    return sorted(found)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def build():
    files = sources()
    want = digest(files)
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return CLASSES
    jars = spark_jars()
    if not os.path.isdir(jars):
        sys.exit(f"perfbench/build.py: Spark jars not found at {jars}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-cp", os.path.join(jars, "*"), "@" + argfile]
    r = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"perfbench/build.py: compile failed ({r.returncode})")
    if os.path.isdir(RESOURCES):
        shutil.copytree(RESOURCES, CLASSES, dirs_exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(want)
    return CLASSES


if __name__ == "__main__":
    print(build())
