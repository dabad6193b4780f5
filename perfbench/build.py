"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark's own Scala sources with the Scala compiler that ships in the Spark
distribution, into .bench_build/ at the root of the checkout.

    python3 perfbench/build.py          # build if the sources changed
    python3 perfbench/build.py --force  # always rebuild

The Spark distribution is found from SPARK_HOME, else from `spark-submit` on
PATH, else from the `unmanagedBase` line of the program's build.sbt. A build is
skipped when .bench_build/stamp matches the sha-256 of every source file.
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
BUILD_DIR = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD_DIR, "classes")
STAMP = os.path.join(BUILD_DIR, "stamp")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = [os.path.join(HERE, "src"), os.path.join(HERE, "tests")]

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit; the same list the program's build.sbt passes to forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    """Directory of the Spark distribution's jars."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            candidates.append(m.group(1))
    for c in candidates:
        if glob.glob(os.path.join(c, "spark-core_*.jar")):
            return c
    raise BuildError("no Spark distribution found (set SPARK_HOME)")


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError("program sources missing: run from the root of a checkout (src/main/scala)")
    out = []
    for d in [PROGRAM_SRC] + BENCH_SRC:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp_of(files):
    md = hashlib.sha256()
    for f in files:
        md.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            md.update(fh.read())
    return md.hexdigest()


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def build(force=False, log=sys.stderr):
    files = sources()
    stamp = stamp_of(files)
    if not force and os.path.isfile(STAMP) and open(STAMP).read() == stamp:
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    if os.path.exists(STAMP):
        os.remove(STAMP)
    jars = os.path.join(spark_jars(), "*")
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", jars, "@" + argfile]
    print("[perfbench] compiling %d sources" % len(files), file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError("scalac failed with exit code %d" % r.returncode)
    with open(STAMP, "w") as fh:
        fh.write(stamp)


if __name__ == "__main__":
    try:
        build(force="--force" in sys.argv[1:])
    except BuildError as e:
        print("[perfbench] build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
