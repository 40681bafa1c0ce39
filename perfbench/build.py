#!/usr/bin/env python3
"""Build the benchmark: compile the program's sources (src/main/scala) and
the benchmark's own (perfbench/src) into one class directory with the Scala
compiler that ships in $SPARK_HOME/jars. No sbt, no dependency resolution.

    python3 perfbench/build.py            # prints the class directory

The output lands in $CARGO_TARGET_DIR (default .bench_build) under the
checkout root and is rebuilt only when a source file changed.
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_home():
    """$SPARK_HOME, else the first Spark install (a `bin/spark-submit` next
    to a `jars/` directory) on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    raise SystemExit("perfbench: set SPARK_HOME to a Spark 4 install")


SPARK_JARS = os.path.join(spark_home(), "jars")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(ROOT, "perfbench", "src")]
    for r in roots:
        if not os.path.isdir(r):
            raise SystemExit(f"perfbench: missing source directory {os.path.relpath(r, ROOT)}")
    files = []
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(build_dir(), "classes.stamp")
    if os.path.isdir(out) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(SPARK_JARS, "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp] + files
    r = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    return out


if __name__ == "__main__":
    print(build())
