#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's sources (src/main/scala)
together with the benchmark driver (perfbench/src) into one class
directory, using the Scala compiler that ships in $SPARK_HOME/jars.

Run from the repository root:  python3 perfbench/build.py
Prints the class directory. Builds are keyed by a hash of every source,
so an unchanged tree reuses the previous build under .bench_build/.
"""
import hashlib
import os
import shutil
import subprocess
import sys

OUT = ".bench_build"
SOURCE_ROOTS = ("src/main/scala", "perfbench/src")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        sys.exit("build: SPARK_HOME must point at a Spark install with jars/")
    return jars


def sources(root):
    found = []
    for top in SOURCE_ROOTS:
        base = os.path.join(root, top)
        if not os.path.isdir(base):
            sys.exit(f"build: missing source directory {top}")
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    if not any(p.startswith(os.path.join(root, "src/main/scala") + os.sep) for p in found):
        sys.exit("build: no graft sources under src/main/scala")
    return sorted(found)


def ensure(root):
    """Returns the class directory for the current sources, building it
    when absent."""
    jars = spark_jars()
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    classes = os.path.join(root, OUT, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(classes, ".complete")):
        return classes
    tmp = f"{classes}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + srcs
    print(f"build: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit("build: compilation failed")
    open(os.path.join(tmp, ".complete"), "w").close()
    try:
        os.rename(tmp, classes)
    except OSError:  # a concurrent build finished first
        shutil.rmtree(tmp, ignore_errors=True)
    for d in os.listdir(os.path.join(root, OUT)):
        old = os.path.join(root, OUT, d)
        if d.startswith("classes-") and old != classes:
            shutil.rmtree(old, ignore_errors=True)
    return classes


if __name__ == "__main__":
    print(ensure(os.getcwd()))
