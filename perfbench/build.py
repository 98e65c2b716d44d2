"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark's JVM side (perfbench/src) into .bench_build/classes with the
Scala compiler that ships among the Spark jars. No sbt, no network: the
Spark distribution is the whole classpath.

Usage (from the repository root): python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(ROOT, "perfbench", "src")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def spark_jars():
    """The jar directory the sbt build compiles against (`unmanagedBase` in
    build.sbt), else $SPARK_HOME/jars."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    jars = m.group(1) if m else ""
    if not os.path.isdir(jars) and "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    if not os.path.isdir(jars):
        sys.exit(f"build: no Spark jars at '{jars}' (set SPARK_HOME)")
    return jars


def classpath():
    return os.pathsep.join([CLASSES, os.path.join(spark_jars(), "*")])


def _sources():
    files = []
    for d in SOURCES:
        if not os.path.isdir(d):
            sys.exit(f"build: missing source directory {d}; run from a full checkout")
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    """Compiles when any source changed since the last build; returns the
    runtime classpath."""
    files = _sources()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(OUT, "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classpath()
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    jars = os.path.join(spark_jars(), "*")
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    subprocess.run(["java", "-Xss8m", "-Xmx3g", "-cp", jars, "scala.tools.nsc.Main",
                    "-nowarn", "-d", CLASSES, "-classpath", jars, "@" + argfile],
                   check=True, stdout=sys.stderr)
    if os.path.isdir(RESOURCES):
        shutil.copytree(RESOURCES, CLASSES, dirs_exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return classpath()


if __name__ == "__main__":
    build()
