#!/usr/bin/env python3
"""Build the benchmark: compile the library sources (src/main/scala) and
the benchmark harness (perfbench/src) with the Scala compiler that ships
in Spark's jar directory, into .bench_build/classes-<digest>/.

The digest covers every source file, so an unchanged tree reuses its
classes and an edited one rebuilds. Spark's jars are found through
SPARK_HOME, or next to `spark-submit` on PATH.

Usage: python3 perfbench/build.py        (prints the classes directory)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit("build: Spark jars not found (set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise SystemExit("build: no java found (set JAVA_HOME)")
    return exe


def sources():
    found = []
    for d in ("src/main/scala", "perfbench/src"):
        found += glob.glob(os.path.join(ROOT, d, "**", "*.scala"), recursive=True)
    if not any("/src/main/scala/" in f for f in found):
        raise SystemExit("build: no library sources under src/main/scala")
    return sorted(found)


def digest(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    files = sources()
    dig = digest(files)
    out = os.path.join(BUILD, f"classes-{dig}")
    if os.path.exists(os.path.join(out, ".ok")):
        return out, dig
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx3g", "-XX:-UsePerfData",
           "-cp", os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    open(os.path.join(tmp, ".ok"), "w").close()
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    return out, dig


if __name__ == "__main__":
    print(build()[0])
