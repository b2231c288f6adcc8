#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the engine (src/main/scala)
and the benchmark driver (graftbench/src) with scalac into
.bench_build/classes, against the Spark jars the engine's build.sbt names
as its `unmanagedBase` ($SPARK_HOME/jars when build.sbt names none).

    python3 graftbench/build.py        # build if any source changed

A stamp of every source file's path, size and content hash skips the
compile when nothing changed.
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
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "stamp.txt")
SCALA_JARS = ["scala-compiler", "scala-library", "scala-reflect"]


def spark_jars():
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            return m.group(1)
    except OSError:
        pass
    return os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    return main, bench


def stamp_of(files):
    h = hashlib.sha256()
    for f in files:
        with open(f, "rb") as fh:
            h.update(os.path.relpath(f, ROOT).encode() + b"\0" + fh.read() + b"\0")
    return h.hexdigest()


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def build(log=sys.stderr):
    """Compile when the sources changed; returns the source stamp."""
    main, bench = sources()
    if not main:
        raise SystemExit("graftbench: no engine sources under %s/src/main/scala" % ROOT)
    stamp = stamp_of(main + bench)
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return stamp
    jars = spark_jars()
    compiler = []
    for name in SCALA_JARS:
        found = sorted(glob.glob(os.path.join(jars, name + "-2.13.*.jar")))
        if not found:
            raise SystemExit("graftbench: %s jar not found in %s" % (name, jars))
        compiler.append(found[-1])
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-usejavacp:false", "-nowarn",
           "-classpath", os.path.join(jars, "*"), "-d", CLASSES] + main + bench
    print("graftbench: compiling %d sources" % len(main + bench), file=log, flush=True)
    subprocess.run(cmd, check=True, stdout=log, stderr=log)
    with open(STAMP, "w") as f:
        f.write(stamp)
    return stamp


if __name__ == "__main__":
    build()
