"""Build for the benchmark: compiles the engine (src/main/scala) together
with the benchmark program (perfbench/src) into one class directory under
.bench_build/perfbench, with scalac from the Spark distribution's jars.

A stamp of the sources' content skips the compile when nothing changed.
Run `python3 perfbench/build.py` from the root of a checkout to build only.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")


def _spark_jars():
    """The jars of $SPARK_HOME, else of a spark-submit on the PATH; the first
    that ships scalac."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    return ""


SPARK_JARS = _spark_jars()
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]


def sources():
    out = []
    for base in SOURCE_DIRS:
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def classpath(classes):
    return classes + os.pathsep + os.path.join(SPARK_JARS, "*")


def build():
    """Returns the class directory, compiling first when the sources changed."""
    engine = [s for s in sources() if s.startswith(SOURCE_DIRS[0])]
    if not engine:
        raise SystemExit(f"perfbench: no engine sources under {SOURCE_DIRS[0]}")
    if not SPARK_JARS:
        raise SystemExit("perfbench: no Spark distribution with scalac in its jars")
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(SPARK_JARS, "*"), "@" + argfile]
    subprocess.run(cmd, check=True, stdout=sys.stderr, timeout=840)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


if __name__ == "__main__":
    print(build())
