"""Build file of the benchmark package.

Compiles the engine's sources (``src/main/scala``) together with the
benchmark program (``perfbench/scala``) with the Scala compiler that ships
among the Spark jars, the same jars the engine's ``build.sbt`` compiles
against, and packs the classes into ``.bench_build/perfbench.jar``. The build is
skipped when a stamp of every source file's path and contents is
unchanged; a rebuild deletes the class-data-sharing archive ``run.py``
records from the new jar.

    python3 perfbench/build.py
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
JAR = os.path.join(BUILD, "perfbench.jar")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"),
           os.path.join(ROOT, "perfbench", "scala")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
SCALA_VERSION = "2.13.17"


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase := file\("([^"]+)"\)', f.read())
    if not m:
        sys.exit("build: set SPARK_HOME; build.sbt names no unmanagedBase")
    return m.group(1)


def classpath():
    return JAR + os.pathsep + os.path.join(spark_jars(), "*")


def _sources():
    files = []
    for d in SOURCES:
        if not os.path.isdir(d):
            sys.exit("build: missing source directory %s" % os.path.relpath(d, ROOT))
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    """Compile if any source changed; return the runtime classpath."""
    files = _sources()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classpath()
    for f in (stamp, JAR, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    jars = spark_jars()
    compiler = os.pathsep.join(os.path.join(jars, "scala-%s-%s.jar" % (m, SCALA_VERSION))
                               for m in ("compiler", "library", "reflect"))
    args_file = os.path.join(BUILD, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", os.path.join(jars, "*"), "@" + args_file]
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=ROOT)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        sys.exit("build: scalac failed (exit %d), see %s" % (rc, log))
    if os.path.isdir(RESOURCES):
        shutil.copytree(RESOURCES, CLASSES, dirs_exist_ok=True)
    # class-data sharing maps classes from jars only, not from directories
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as z:
        for dirpath, _, names in os.walk(CLASSES):
            for n in names:
                f = os.path.join(dirpath, n)
                z.write(f, os.path.relpath(f, CLASSES))
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classpath()


if __name__ == "__main__":
    build()
