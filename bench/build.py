#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala)
together with the benchmark's own Scala sources (bench/src) into
.bench_build/classes with the Scala compiler that ships in Spark's
jars. A build is skipped when a stamp of every source file matches
the last one.

Usage, from the repository root: python3 bench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars", "*")
SOURCE_DIRS = ["src/main/scala", "bench/src"]


def sources(root):
    files = []
    for d in SOURCE_DIRS:
        files += glob.glob(os.path.join(root, d, "**", "*.scala"), recursive=True)
    return sorted(files)


def stamp(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root):
    """Compile if needed; returns (classpath, source stamp)."""
    files = sources(root)
    if not any(f.startswith(os.path.join(root, "src", "")) for f in files):
        raise SystemExit(f"build: no engine sources under {root}/src/main/scala")
    key = stamp(root, files)
    classes = os.path.join(root, ".bench_build", "classes")
    stamp_file = classes + ".stamp"
    cp = f"{classes}{os.pathsep}{SPARK_JARS}"
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == key:
                return cp, key
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", SPARK_JARS,
         "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-cp", SPARK_JARS] + files,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac exited {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(key)
    return cp, key


if __name__ == "__main__":
    print(build(os.getcwd())[1])
