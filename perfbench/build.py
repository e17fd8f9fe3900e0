#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles the engine sources (`src/main/scala`) together with the benchmark
sources (`perfbench/src`) straight through the Scala compiler that ships in
the Spark jar directory, into `.bench_build/classes`. A content hash of every
source file names the build, so an unchanged tree is never recompiled and a
changed one always is.

    python3 perfbench/build.py        # prints the class directory

The Spark jar directory is `$SPARK_HOME/jars`, else the `unmanagedBase` of
the project's `build.sbt`, else `$SPARK_JARS`.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD_DIR = os.path.join(ROOT, ".bench_build")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]


class BuildError(Exception):
    pass


def spark_jars():
    candidates = []
    if os.environ.get("SPARK_JARS"):
        candidates.append(os.environ["SPARK_JARS"])
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            candidates.append(m.group(1))
    for c in candidates:
        if os.path.isdir(c) and any(n.startswith("scala-compiler") for n in os.listdir(c)):
            return c
    raise BuildError("no Spark jar directory with a Scala compiler found "
                     "(set SPARK_HOME or SPARK_JARS)")


def sources():
    if not os.path.isdir(SOURCE_DIRS[0]):
        raise BuildError("engine sources not found: " + SOURCE_DIRS[0])
    out = []
    for d in SOURCE_DIRS:
        for base, _, files in os.walk(d):
            out.extend(os.path.join(base, n) for n in files if n.endswith(".scala"))
    return sorted(out)


def build():
    """Compile if needed; return (class dir, Spark jar dir)."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    classes = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(classes, ".complete")):
        return classes, jars
    for old in os.listdir(BUILD_DIR) if os.path.isdir(BUILD_DIR) else []:
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(BUILD_DIR, old), ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=850)
    if r.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        raise BuildError("compile failed:\n" + r.stdout[-4000:])
    open(os.path.join(classes, ".complete"), "w").close()
    return classes, jars


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
