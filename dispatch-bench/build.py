#!/usr/bin/env python3
"""Build file of the dispatch benchmark.

Compiles the engine's sources (src/main/scala of the repository this
directory sits in) together with the benchmark's own sources (src/ here)
into .build/classes, with the Scala compiler that ships among the Spark
jars. No sbt: nothing is written outside this directory, no socket is
opened, and no path depends on where the checkout lives. A stamp over all
source contents skips the compile when nothing changed.

    python3 dispatch-bench/build.py      # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SPARK_JARS = os.environ.get("SPARK_JARS", "/opt/spark/jars")
SCALA_VERSION = "2.13.17"


class BuildError(Exception):
    pass


def rel(path):
    """A path relative to the repository root, so no absolute path of the
    checkout reaches the compiler or the JVM."""
    return os.path.relpath(path, ROOT)


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")]
    for r in roots:
        if not os.path.isdir(r):
            raise BuildError(f"missing source directory {rel(r)}")
    files = []
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def compiler_jars():
    jars = [os.path.join(SPARK_JARS, f"scala-{m}-{SCALA_VERSION}.jar") for m in ("compiler", "library", "reflect")]
    missing = [j for j in jars if not os.path.isfile(j)]
    if missing:
        raise BuildError(f"Scala {SCALA_VERSION} compiler not found: {', '.join(missing)}")
    return jars


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files + jars:
        h.update(rel(f).encode())
        if f in files:
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Returns the classes directory, relative to the repository root."""
    files = sources()
    jars = compiler_jars()
    out = os.path.join(BENCH, ".build")
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    want = stamp(files, jars)
    if os.path.isdir(classes) and os.path.isfile(stamp_file) and open(stamp_file).read() == want:
        return rel(classes)

    fresh = os.path.join(out, "classes.new")
    tmp = os.path.join(out, "tmp")
    for d in (fresh, tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(rel(f) for f in files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={rel(tmp)}",
           "-cp", os.pathsep.join(jars), "scala.tools.nsc.Main",
           "-nowarn", "-usejavacp:false", "-classpath", os.path.join(SPARK_JARS, "*"),
           "-d", rel(fresh), "@" + rel(args_file)]
    print(f"[build] compiling {len(files)} Scala files", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, cwd=ROOT, timeout=600)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(fresh, classes)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return rel(classes)


if __name__ == "__main__":
    try:
        print(build())
    except (BuildError, subprocess.TimeoutExpired) as e:
        print(f"[build] failed: {e}", file=sys.stderr)
        sys.exit(2)
