#!/usr/bin/env python3
"""Build file of the workload benchmark.

Compiles the program (`src/main/scala`) together with the benchmark's JVM side
(`perfbench/scala`) with the Scala compiler that ships in the Spark jars,
into `.bench_build/perfbench/classes-<source hash>`. A build whose sources
are unchanged is reused. Run it on its own with `python3 perfbench/build.py`.
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
BUILD_DIR = os.path.join(REPO, ".bench_build", "perfbench")
PROGRAM_SRC = os.path.join(REPO, "src", "main", "scala")
PROGRAM_RES = os.path.join(REPO, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "scala")


class BuildError(Exception):
    pass


def spark_jars():
    """The jars dir of the Spark install that ships a Scala compiler:
    `$SPARK_HOME`, else the home of a `spark-submit` on the PATH."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        exe = os.path.join(d, "spark-submit")
        if os.path.isfile(exe):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(exe))))
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise BuildError("no Spark install with a Scala compiler in its jars "
                     "(set SPARK_HOME)")


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError(f"program sources not found: {PROGRAM_SRC}")
    files = sorted(glob.glob(os.path.join(PROGRAM_SRC, "**", "*.scala"),
                             recursive=True))
    files += sorted(glob.glob(os.path.join(BENCH_SRC, "*.scala")))
    if not files:
        raise BuildError("no Scala sources")
    return files


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def classpath(classes):
    return os.pathsep.join([classes, PROGRAM_RES,
                            os.path.join(spark_jars(), "*")])


def ensure_built():
    files = sources()
    jars = os.path.join(spark_jars(), "*")
    classes = os.path.join(BUILD_DIR, "classes-" + source_hash(files))
    if os.path.isdir(classes):
        return classes
    os.makedirs(BUILD_DIR, exist_ok=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", jars] + files
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if p.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compile failed:\n" + p.stdout[-4000:])
    for old in glob.glob(os.path.join(BUILD_DIR, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
