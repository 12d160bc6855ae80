#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine and the benchmark.

The engine's Scala sources (`src/main/scala` of the repository) and the
benchmark's own sources (`perfbench/src`) are compiled together with the
Scala compiler that ships in the Spark distribution's jar directory, so the
build needs neither sbt nor a dependency download.  Classes land in
`.bench_build/classes-<digest>/`, where the digest covers every source
file's path and bytes; an unchanged tree reuses its classes and any change
rebuilds from scratch.

Usage: python3 perfbench/build.py        (prints the classes directory)
"""
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
WORK = os.path.join(REPO, ".bench_build")
ENGINE_SRC = os.path.join(REPO, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH_DIR, "src")


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    jars/ beside the bin/ of the first spark-submit on PATH."""
    submits = [os.path.join(d, "spark-submit")
               for d in os.environ.get("PATH", "").split(os.pathsep)]
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(f)))
        for f in submits if os.path.isfile(f)]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise SystemExit("build: no Spark distribution (set SPARK_HOME)")


def scala_sources():
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"build: engine sources missing ({ENGINE_SRC})")
    out = []
    for root in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(root):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(sources):
    h = hashlib.sha256()
    for p in sources:
        h.update(os.path.relpath(p, REPO).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Returns the classes directory, compiling first when it is stale."""
    sources = scala_sources()
    jars = spark_jars()
    out = os.path.join(WORK, "classes-" + digest(sources))
    if os.path.exists(os.path.join(out, "BUILD_OK")):
        return out
    os.makedirs(WORK, exist_ok=True)
    for stale in os.listdir(WORK):
        if stale.startswith("classes-"):
            shutil.rmtree(os.path.join(WORK, stale), ignore_errors=True)
    tmp = out + ".tmp"
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    # the source list goes through an @argfile, which keeps the command
    # line short
    argfile = os.path.join(WORK, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"build: scalac failed with code {res.returncode}")
    open(os.path.join(tmp, "BUILD_OK"), "w").close()
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build())
