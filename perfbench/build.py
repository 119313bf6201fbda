#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine sources of the checkout
(`src/main/scala`, and its resources) together with the benchmark's own sources (`perfbench/src`)
into `.bench_build/classes`, with the Scala compiler that ships in Spark's
jars. A stamp of every source's content skips the compile when nothing
changed.

    python3 perfbench/build.py        # prints the class directory
"""
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        sys.exit("perfbench: no Spark jars found; set SPARK_HOME")
    return jars


def files_under(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files]
    return sorted(out)


def sources():
    return [f for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src"))
            for f in files_under(top) if f.endswith(".scala")]


def build():
    """Compile if needed; return the class directory."""
    srcs = sources()
    resources = os.path.join(ROOT, "src", "main", "resources")
    if not any(s.startswith(os.path.join(ROOT, "src")) for s in srcs):
        sys.exit("perfbench: no engine sources under src/main/scala")
    h = hashlib.sha256()
    for s in srcs + files_under(resources):
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cmd = ["java", "-Xmx2g", "-Xss16m", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit("perfbench: compile failed")
    for f in files_under(resources):
        dest = os.path.join(classes, os.path.relpath(f, resources))
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        shutil.copyfile(f, dest)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build())
