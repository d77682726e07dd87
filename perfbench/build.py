#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark (perfbench/src) together with the Scala compiler that ships among
the Spark jars, into .bench_build/perfbench/classes.jar.

The Spark jar directory is $SPARK_HOME/jars, or else the `unmanagedBase` the
repository's build.sbt names. A build is skipped when a hash of every source
file matches the previous build's. Run directly to build: python3 perfbench/build.py
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
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jars: set SPARK_HOME")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError("engine sources not found: " + main)
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return files


JAR = os.path.join(OUT, "classes.jar")
# Class-data archives of the classes runs load (see run.py), one per workload;
# stale once the jar changes.
ARCHIVES = os.path.join(OUT, "archives")


def classpath(jars):
    return JAR + os.pathsep + os.path.join(jars, "*")


def build(log=sys.stderr):
    """Compile if the sources changed; return the runtime classpath."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(OUT, "build.stamp")
    if os.path.exists(JAR) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath(jars)
    os.makedirs(OUT, exist_ok=True)
    for f in (stamp_file, JAR):
        if os.path.exists(f):
            os.remove(f)
    shutil.rmtree(ARCHIVES, ignore_errors=True)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    print("perfbench: compiling %d sources" % len(files), file=log)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", JAR,
           "-cp", os.path.join(jars, "*"), "@" + argfile]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        raise BuildError("compile failed:\n" + p.stdout[-4000:])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classpath(jars)


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print("perfbench: " + str(e), file=sys.stderr)
        sys.exit(2)
