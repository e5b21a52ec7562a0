#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's sources (`src/main/scala`)
together with the harness (`graftbench/harness`) into one class directory,
with the Scala compiler and the jars of the local Spark install.

    python3 graftbench/build.py        # prints the class directory

The build is keyed on the content of every compiled source: an unchanged
tree reuses the earlier build.
"""
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
BUILD = os.path.join(WORK, "build")


class BuildError(Exception):
    pass


def spark_jars():
    """The jar directory of the Spark install ($SPARK_HOME, else the one
    `spark-submit` on PATH belongs to)."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("no Spark install found: set SPARK_HOME")
    return jars


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "harness")]
    files = []
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    if not any(f.startswith(roots[0]) for f in files):
        raise BuildError(f"no graft sources under {roots[0]}")
    return sorted(files)


def build():
    """Returns the class directory, compiling first when a source changed."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    key = h.hexdigest()
    classes = os.path.join(BUILD, key[:16])
    if os.path.isdir(classes):
        return classes, key
    shutil.rmtree(BUILD, ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    os.rename(tmp, classes)
    return classes, key


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
