#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's sources (src/main/scala)
and the benchmark's own (perfbench/src) with the Scala compiler that ships in
the Spark distribution's jars, into <build dir>/classes. sbt is not used, so no
build tool runs in the timed path; a stamp of the source contents skips the
compile when nothing changed.

    python3 perfbench/build.py            # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """$SPARK_HOME/jars, else the jars beside the first spark-submit on the
    PATH that belongs to a full Spark distribution."""
    homes = [os.environ.get("SPARK_HOME", "")] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "spark-sql_*.jar")):
            return jars
    sys.exit("perfbench: no Spark distribution found (set SPARK_HOME)")


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build", "perfbench")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        sys.exit("perfbench: no engine sources under src/main/scala; "
                 "run from the root of a checkout of the repository")
    return engine + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))


def build():
    """Compiles when the sources changed; returns the classes directory."""
    jars = spark_jars()
    srcs = sources()
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classes
    os.makedirs(out, exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    scalac = [os.path.join(jars, j) for j in os.listdir(jars)
              if j.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(scalac),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-cp", os.path.join(jars, "*"), "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"perfbench: compile failed ({r.returncode})")
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return classes


if __name__ == "__main__":
    print(build())
