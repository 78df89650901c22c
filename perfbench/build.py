"""Build file of the benchmark: compiles the program (`src/main/scala`) and
the harness (`perfbench/scala`) with the Scala compiler that ships in the
Spark distribution, into `.perfbench/build/classes` of the checkout.

A build is skipped when a stamp of every source's path and contents
matches the last one.

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".perfbench", "build")
CLASSES = os.path.join(BUILD, "classes")
HERE = os.path.dirname(os.path.abspath(__file__))

# The JDK 17 module opens Spark needs outside spark-submit.
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def spark_jars():
    """The Spark distribution's jar directory: under SPARK_HOME, else under
    the parent of the first directory on PATH holding `spark-submit`."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "spark-core_*.jar")):
            return jars
    raise SystemExit("no Spark distribution found: set SPARK_HOME")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"no program sources at {main}: run from the "
                         "root of a checkout of the repository")
    found = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    found += sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    return found


def _stamp(files):
    h = hashlib.sha256()
    res = os.path.join(ROOT, "src", "main", "resources")
    for f in files + sorted(glob.glob(os.path.join(res, "**", "*"), recursive=True)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compiles if needed; returns the run classpath."""
    jars = spark_jars()
    files = sources()
    stamp = _stamp(files)
    stamp_file = os.path.join(BUILD, "stamp")
    cp = f"{CLASSES}:{jars}/*"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-cp", f"{jars}/*", "@" + argfile]
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"compile failed ({r.returncode})")
    res = os.path.join(ROOT, "src", "main", "resources")
    if os.path.isdir(res):
        shutil.copytree(res, CLASSES, dirs_exist_ok=True)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


if __name__ == "__main__":
    print(build())
