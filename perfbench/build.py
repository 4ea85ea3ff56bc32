"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's own Scala sources (perfbench/src) with the Scala compiler
that ships in Spark's jar directory into .bench_build/perfbench/classes.
Rebuilds only when a source file changed.

Usage: python3 perfbench/build.py      (from the repository root)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]


def spark_jars():
    """`$SPARK_HOME/jars`, else the jar directory the root build.sbt uses."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("perfbench: no Spark jar directory (set SPARK_HOME)")
    return m.group(1)


def sources():
    found = []
    for d in SOURCE_DIRS:
        for base, _, files in os.walk(d):
            found += [os.path.join(base, f) for f in files
                      if f.endswith((".scala", ".java"))]
    return sorted(found)


def build():
    """Compile if needed; return the runtime classpath."""
    if not os.path.isdir(SOURCE_DIRS[0]):
        raise SystemExit(f"perfbench: no program sources under {SOURCE_DIRS[0]}")
    jars = spark_jars()
    classpath = CLASSES + os.pathsep + os.path.join(jars, "*")
    srcs = sources()
    if not any(s.startswith(SOURCE_DIRS[0]) for s in srcs):
        raise SystemExit(f"perfbench: no program sources under {SOURCE_DIRS[0]}")
    if not os.path.isdir(jars):
        raise SystemExit(f"perfbench: Spark jars not found at {jars}")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp_file = os.path.join(OUT, "stamp")
    stamp = h.hexdigest()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath
    shutil.rmtree(CLASSES, ignore_errors=True)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    os.makedirs(CLASSES)
    compiler = os.pathsep.join(
        os.path.join(jars, j) for j in sorted(os.listdir(jars))
        if j.startswith(("scala-compiler-", "scala-library-", "scala-reflect-")))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", CLASSES] + srcs
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit("perfbench: compilation failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


if __name__ == "__main__":
    build()
