#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the engine sources
(src/main/scala) together with the harness (perfbench/src), with the Scala
2.13 compiler that ships among the Spark jars the project builds against,
into .bench_build/perfbench/classes. Rebuilds only when a source changed.

Usage (from the repository root): python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

OUT = os.path.join(".bench_build", "perfbench")
SOURCE_DIRS = [os.path.join("src", "main", "scala"), os.path.join("perfbench", "src")]
RESOURCES = os.path.join("src", "main", "resources")


def spark_jars():
    """The Spark jar directory: $SPARK_JARS, else the `unmanagedBase` that
    the project's build.sbt compiles against."""
    if "SPARK_JARS" in os.environ:
        return os.environ["SPARK_JARS"]
    if os.path.exists("build.sbt"):
        with open("build.sbt") as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            return m.group(1)
    raise SystemExit("perfbench: no build.sbt naming the Spark jars (unmanagedBase) "
                     "and no SPARK_JARS; run from the repository root")


def sources():
    files = []
    for d in SOURCE_DIRS:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def classpath(classes, jars):
    return os.pathsep.join([classes, RESOURCES, os.path.join(jars, "*")])


def build():
    """Returns the runtime classpath; raises SystemExit when the checkout
    holds no engine sources or the compiler fails."""
    jar_dir = spark_jars()
    if not os.path.isdir(SOURCE_DIRS[0]) or not os.path.isdir(jar_dir):
        raise SystemExit(f"perfbench: need {SOURCE_DIRS[0]} and {jar_dir}; "
                         "run from the repository root")
    files = sources()
    digest = hashlib.sha1()
    for f in files + [__file__]:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp_file = os.path.join(OUT, "stamp")
    classes = os.path.join(OUT, "classes")
    stamp = digest.hexdigest()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath(classes, jar_dir)
    if os.path.isdir(classes):
        shutil.rmtree(classes)
    os.makedirs(classes)
    jars = os.path.join(jar_dir, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", jars, "-d", classes] + files
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise SystemExit("perfbench: compile failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classpath(classes, jar_dir)


if __name__ == "__main__":
    print(build())
    sys.exit(0)
