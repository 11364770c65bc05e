"""Builds the engine (``src/main/scala``) and the harness (``perfbench/src``)
from source with the Scala compiler that ships among Spark's jars.

The jars directory is the one the repository's ``build.sbt`` names as its
``unmanagedBase`` (``$SPARK_HOME/jars`` if that line is absent). Classes
go to ``.bench_build/classes``; a stamp of the sources' contents skips the
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
STAMP = os.path.join(OUT, "classes.stamp")


class BuildError(Exception):
    pass


def jars_dir():
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise BuildError("cannot locate Spark's jars: no unmanagedBase in build.sbt "
                         "and SPARK_HOME is unset")
    return os.path.join(home, "jars")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise BuildError("no engine sources under src/main/scala")
    return engine + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))


def classpath():
    return CLASSES + os.pathsep + os.path.join(jars_dir(), "*")


def build(log):
    """Compiles if the sources changed since the last build."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    jars = jars_dir()
    compiler = []
    for n in ("compiler", "library", "reflect"):
        found = sorted(glob.glob(os.path.join(jars, f"scala-{n}-2.13.*.jar")))
        if not found:
            raise BuildError(f"no scala-{n} 2.13 jar in {jars}")
        compiler.append(found[-1])
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", CLASSES, "@" + argfile]
    r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        raise BuildError(f"scalac exited {r.returncode}")
    with open(STAMP, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    build(sys.stderr)
