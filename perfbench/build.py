#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main) together with
the benchmark's own Scala sources (perfbench/scala) into
.bench_build/classes, with the Scala compiler that ships in the Spark
distribution.  Skips the compile when no source changed since the last
build.

    python3 perfbench/build.py        # prints the classes directory

Spark is found through $SPARK_HOME, else through the installed pyspark
package.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "stamp")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "scala")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def spark_jars():
    homes = [os.environ.get("SPARK_HOME", "")]
    try:
        import pyspark
        homes.append(os.path.dirname(pyspark.__file__))
    except ImportError:
        pass
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "spark-core_*.jar")):
            return jars
    raise SystemExit("build: no Spark distribution found (set SPARK_HOME)")


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"build: missing source directory {os.path.relpath(d, ROOT)}")
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def digest(files):
    h = hashlib.sha1()
    for f in files + sorted(glob.glob(os.path.join(RESOURCES, "**", "*"), recursive=True)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if needed; return (classes dir, Spark jars dir)."""
    jars = spark_jars()
    files = sources()
    stamp = digest(files)
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return CLASSES, jars
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    print(f"build: compiling {len(files)} Scala files", file=log, flush=True)
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", CLASSES, "-classpath", cp, "@" + argfile],
                       stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac exited {r.returncode}")
    if os.path.isdir(RESOURCES):
        shutil.copytree(RESOURCES, CLASSES, dirs_exist_ok=True)
    with open(STAMP, "w") as f:
        f.write(stamp)
    return CLASSES, jars


if __name__ == "__main__":
    print(build()[0])
