#!/usr/bin/env python3
"""Builds the benchmark from source.

Compiles the program's Scala sources (src/main/scala) together with the
benchmark's own (wbench/src) using the Scala compiler that ships in the
Spark distribution (the jar directory build.sbt compiles against, or
$SPARK_JARS), into .bench_build/classes under the current directory,
which must be the repository root. A stamp of the source contents skips
the compile when nothing changed.

Usage: python3 wbench/build.py
"""
import hashlib
import os
import pathlib
import re
import shutil
import subprocess
import sys

BENCH = pathlib.Path(__file__).resolve().parent


def spark_jars(root):
    """The Spark jar directory: $SPARK_JARS, else the unmanagedBase that the
    repository's build.sbt compiles against."""
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    sbt = root / "build.sbt"
    found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
    if not found:
        sys.exit("wbench: set SPARK_JARS; build.sbt names no unmanagedBase")
    return found.group(1)


def sources(root):
    prog = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    if not prog:
        sys.exit("wbench: no program sources under src/main/scala; run from the repository root")
    return prog + sorted((BENCH / "src").rglob("*.scala"))


def classpath(root, classes):
    return f"{classes}{os.pathsep}{spark_jars(root)}/*"


def build(root=None):
    """Returns the compiled classes directory, compiling when stale."""
    root = pathlib.Path(root or os.getcwd()).resolve()
    srcs = sources(root)
    digest = hashlib.sha256()
    for p in srcs + [pathlib.Path(__file__).resolve()]:
        digest.update(str(p).encode())
        digest.update(p.read_bytes())
    out = root / ".bench_build"
    classes = out / "classes"
    stamp = out / "stamp"
    if stamp.exists() and stamp.read_text() == digest.hexdigest():
        return classes
    shutil.rmtree(out, ignore_errors=True)
    classes.mkdir(parents=True)
    jars = f"{spark_jars(root)}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-cp", jars] + [str(p) for p in srcs]
    done = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if done.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        sys.exit(f"wbench: compile failed ({done.returncode})")
    stamp.write_text(digest.hexdigest())
    return classes


if __name__ == "__main__":
    print(build())
