"""Build file of the benchmark: compiles the library (src/main) and the
benchmark's own JVM sources (perfbench/src) with the Scala compiler that
ships in Spark's jars, into .bench_build/classes. A stamp of the source
contents makes a rebuild happen only when a source changed.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars(root):
    """Spark's jars, from the directory build.sbt names as `unmanagedBase`."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build: build.sbt names no unmanagedBase for the Spark jars")
    d = m.group(1)
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not jars:
        raise SystemExit(f"build: no Spark jars under {d}")
    return jars


def sources(root):
    scala = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    java = sorted(glob.glob(os.path.join(root, "src/main/java/**/*.java"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"), recursive=True))
    if not scala or not bench:
        raise SystemExit("build: library or benchmark sources not found")
    return scala + bench, java


def build(root, out):
    """Compile if needed; returns the runtime classpath entries."""
    scala, java = sources(root)
    jars = spark_jars(root)
    h = hashlib.sha256()
    for p in scala + java:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(jars).encode())
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return [classes] + jars
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.pathsep.join(jars)
    compiler = os.pathsep.join(j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler", "scala-library", "scala-reflect")))
    run(["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main", "-nowarn",
         "-d", classes, "-classpath", cp] + scala + java)
    if java:
        run(["javac", "-nowarn", "-d", classes, "-cp", cp + os.pathsep + classes] + java)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return [classes] + jars


def run(cmd):
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"build: {cmd[0]} failed with code {p.returncode}")


if __name__ == "__main__":
    build(os.getcwd(), os.path.join(os.getcwd(), ".bench_build"))
