#!/usr/bin/env python3
"""Build file of the benchmark: compiles the repository's main sources
together with the benchmark's own sources into one class directory.

It calls the Scala compiler that ships in Spark's jar directory
($SPARK_HOME/jars, else the Spark whose spark-submit is on PATH), so the
build needs neither sbt nor a dependency download, and writes only under
the output directory. A stamp of the source contents skips the compile
when nothing changed.

    python3 perfbench/build.py [OUT_DIR]     # default .bench_build/classes
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """$SPARK_HOME/jars, else the jars/ beside the first bin/spark-submit on PATH."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    return next((os.path.join(h, "jars") for h in homes if os.path.isdir(os.path.join(h, "jars"))),
                "spark-jars-not-found")


SPARK_JARS = spark_jars()
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def sources():
    out = []
    for d in SOURCE_DIRS:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(out):
    """Compiles into `out` unless its stamp matches; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: the repository's sources (src/main/scala/graft) are missing")
    if not os.path.isdir(SPARK_JARS):
        raise SystemExit(f"perfbench: no Spark jar directory at {SPARK_JARS}")
    files = sources()
    want = stamp(files)
    stamp_file = os.path.join(out, ".stamp")
    if not (os.path.isfile(stamp_file) and open(stamp_file).read() == want):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        jars = os.path.join(SPARK_JARS, "*")
        cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
               "-nowarn", "-d", out, "-classpath", jars] + files
        print(f"perfbench: compiling {len(files)} sources", file=sys.stderr, flush=True)
        r = subprocess.run(cmd, stdout=sys.stderr, timeout=800)
        if r.returncode != 0:
            shutil.rmtree(out, ignore_errors=True)
            raise SystemExit("perfbench: compile failed")
        with open(stamp_file, "w") as fh:
            fh.write(want)
    return os.pathsep.join([out, RESOURCES, os.path.join(SPARK_JARS, "*")])


if __name__ == "__main__":
    print(build(os.path.abspath(sys.argv[1] if len(sys.argv) > 1
                                else os.path.join(ROOT, ".bench_build", "classes"))))
