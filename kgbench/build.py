#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's main sources together
with the benchmark's own Scala sources into one class directory.

The Scala compiler and every library come from the Spark distribution's jar
directory (`$SPARK_HOME/jars`, else the `unmanagedBase` the repo's build.sbt
declares), so no build tool or network is needed. A content stamp skips the
compile when no source changed.

    python3 kgbench/build.py            # from the root of a checkout
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
OUT = os.path.join(ROOT, ".bench_build", "kgbench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")


def spark_jars():
    """The first candidate jar directory that holds the Scala compiler."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as fh:
            candidates += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    for d in candidates:
        if glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    raise RuntimeError(f"no Scala compiler jar in {candidates}; set SPARK_HOME")


def classpath():
    return os.pathsep.join([CLASSES, os.path.join(spark_jars(), "*")])


def sources():
    found = []
    for base in (ENGINE_SRC, BENCH_SRC):
        found += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(found)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if needed; returns the runtime classpath. Raises on error."""
    if not os.path.isdir(ENGINE_SRC):
        raise RuntimeError("engine sources not found at src/main/scala")
    files = sources()
    want = stamp(files)
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return classpath()
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp",
           "-d", CLASSES] + files
    print(f"[kgbench] compiling {len(files)} sources", file=log)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise RuntimeError(f"scalac exited with {r.returncode}")
    with open(STAMP, "w") as fh:
        fh.write(want)
    return classpath()


if __name__ == "__main__":
    try:
        build()
    except RuntimeError as e:
        print(f"[kgbench] build failed: {e}", file=sys.stderr)
        sys.exit(1)
