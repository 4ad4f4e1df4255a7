#!/usr/bin/env python3
"""Build the benchmark: compile graft's sources (src/main/scala) and the
benchmark's own (perfbench/src) with the Scala compiler that ships in
Spark's jars directory, into .bench_build/perfbench/classes.

The root sbt build is not used or touched. A stamp over every source
file and the jar list skips the compile when nothing changed.

Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    """The jars directory of the Spark installation: $SPARK_HOME/jars,
    else the one next to spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BuildError("no Spark installation found (set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java found (set JAVA_HOME)")
    return exe


def sources():
    lib = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not lib:
        raise BuildError("no graft sources under src/main/scala: run from a full checkout")
    own = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return lib + own


def one(jars, pattern):
    found = sorted(glob.glob(os.path.join(jars, pattern)))
    if not found:
        raise BuildError(f"{pattern} not found in {jars}")
    return found[-1]


def ensure():
    """Compile if the sources changed; return (classes directory, whether it compiled)."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp and os.path.isdir(classes):
        return classes, False

    os.makedirs(OUT, exist_ok=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler_cp = os.pathsep.join(one(jars, p) for p in
                                  ("scala-compiler-*.jar", "scala-library-*.jar", "scala-reflect-*.jar"))
    argfile = os.path.join(OUT, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", compiler_cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", tmp, "@" + argfile]
    print(f"# building {len(srcs)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise BuildError("scalac failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, True


if __name__ == "__main__":
    try:
        print(ensure()[0])
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
