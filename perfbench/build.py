#!/usr/bin/env python3
"""Compile the program (src/main/scala) and the benchmark (perfbench/src)
into one class directory, keyed by a hash of every source file, so an
unchanged tree is compiled once.

    python3 perfbench/build.py          # from the checkout root; prints the class dir

Uses the Scala compiler that ships in Spark's jar directory ($SPARK_HOME/jars,
or the one next to `spark-submit` on PATH). Output goes under .bench_build/.
"""
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
SOURCE_DIRS = ("src/main/scala", "perfbench/src")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("no Spark installation: set SPARK_HOME")
    return jars


def sources(root):
    out = []
    for d in SOURCE_DIRS:
        top = os.path.join(root, d)
        if not os.path.isdir(top):
            raise BuildError(f"missing source directory {d}")
        for base, _, names in os.walk(top):
            out += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(out)


def build(root="."):
    files = sources(root)
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    classes = os.path.join(root, BUILD_DIR, "classes-" + digest.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, "BUILD_OK")):
        return classes
    jars = spark_jars()
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", tmp] + files
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + res.stdout[-6000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    open(os.path.join(classes, "BUILD_OK"), "w").close()
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
