#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine sources (src/main/scala)
together with the benchmark's own Scala sources (perfbench/src), using the
Scala compiler that ships with the Spark distribution (SPARK_HOME, or the
one whose spark-submit is on PATH), and packs the classes and resources into
`.bench_build/perfbench-<stamp>.jar`. The build is skipped when a stamp of
every source file's content matches the previous build.

    python3 perfbench/build.py        # from the repository root, prints the jar

Exits non-zero when the engine sources are missing or do not compile.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench build: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def sources():
    out = []
    for d in SOURCE_DIRS:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp_of(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    if os.path.isdir(RESOURCES):
        for base, _, names in sorted(os.walk(RESOURCES)):
            for n in sorted(names):
                p = os.path.join(base, n)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if needed; returns the path of the build's jar."""
    if not os.path.isdir(SOURCE_DIRS[0]):
        raise SystemExit("perfbench build: engine sources not found at "
                         + os.path.relpath(SOURCE_DIRS[0], ROOT))
    files = sources()
    jar = os.path.join(BUILD, f"perfbench-{stamp_of(files)[:16]}.jar")
    if os.path.exists(jar):
        return jar
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + BUILD,
           "-cp", jars, "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", CLASSES] + files
    print(f"perfbench build: compiling {len(files)} sources", file=log)
    rc = subprocess.run(cmd, stdout=log, stderr=log, cwd=ROOT).returncode
    if rc != 0:
        raise SystemExit(f"perfbench build: scalac failed rc={rc}")
    if os.path.isdir(RESOURCES):
        shutil.copytree(RESOURCES, CLASSES, dirs_exist_ok=True)
    # a jar, not a class directory: the JVM's class-data archive (see
    # run.py) only covers classes loaded from jars
    tmp = jar + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
        for base, _, names in sorted(os.walk(CLASSES)):
            for n in sorted(names):
                p = os.path.join(base, n)
                z.write(p, os.path.relpath(p, CLASSES))
    os.replace(tmp, jar)
    shutil.rmtree(CLASSES)
    return jar


if __name__ == "__main__":
    print(build())
