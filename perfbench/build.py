"""Build file of the benchmark package.

Compiles the engine (`src/main/scala` of the checkout) together with the
benchmark harness (`perfbench/scala`) into `.bench_build/classes`, with
the Scala compiler that ships in the Spark distribution's jar directory
(no sbt, no network). That directory is `$SPARK_JARS`, else the one the
engine's build.sbt names. A stamp of the source contents skips the compile
when nothing changed.

Usage: python3 perfbench/build.py   (from the root of a checkout)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD = ".bench_build"
CLASSES = os.path.join(BUILD, "classes")


def spark_jars():
    """The Spark jar directory: $SPARK_JARS, else the engine's own build
    setting (`unmanagedBase` in build.sbt)."""
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
    if not m:
        raise RuntimeError("no Spark jar directory: set SPARK_JARS")
    return m.group(1)


def classpath():
    return f"{os.path.abspath(CLASSES)}:{spark_jars()}/*"


def _sources():
    srcs = []
    for root in ("src/main/scala", "perfbench/scala"):
        srcs += glob.glob(f"{root}/**/*.scala", recursive=True)
    return sorted(srcs)


def build():
    """Compile if needed; return the classpath. Raises on failure."""
    if not os.path.isdir("src/main/scala"):
        raise RuntimeError("no engine sources (src/main/scala) in this checkout")
    srcs = _sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(BUILD, "classes.stamp")
    digest = h.hexdigest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classpath()
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    jars = spark_jars()
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", CLASSES, "-classpath", f"{jars}/*"] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise RuntimeError(f"scalac failed (exit {r.returncode})")
    with open(stamp, "w") as f:
        f.write(digest)
    return classpath()


if __name__ == "__main__":
    print(build())
