"""Build file of the benchmark: compiles the engine's sources
(`src/main/scala`) together with the harness (`perfbench/scala`) with the
Scala compiler that ships in the Spark distribution's jars, into
`.perfbench/build/classes`. A stamp of the sources' hash makes repeated
runs reuse the build.

    python3 perfbench/build.py      # build (or confirm the build is current)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench", "build")
CLASSES = os.path.join(OUT, "classes")


def spark_jars():
    """`$SPARK_HOME/jars`, else the `unmanagedBase` directory the repo's
    build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home:
        jars = os.path.join(home, "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                                 f.read()).group(1)
        except (OSError, AttributeError):
            raise SystemExit("no Spark jars: set SPARK_HOME")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit(f"no Spark jars under {jars} (set SPARK_HOME)")
    return os.path.join(jars, "*")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**",
                                           "*.scala"), recursive=True))
    if not engine:
        raise SystemExit(f"no engine sources under {ROOT}/src/main/scala")
    harness = sorted(glob.glob(os.path.join(ROOT, "perfbench", "scala", "**",
                                            "*.scala"), recursive=True))
    return engine + harness


def build():
    """Returns the classpath of the built harness, compiling if stale."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = os.path.join(OUT, "stamp")
    cp = CLASSES + os.pathsep + jars
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return cp
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", jars] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"compile failed (exit {r.returncode})")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return cp


if __name__ == "__main__":
    print(build())
