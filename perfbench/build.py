#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program's sources (`src/main/scala`) together with the
harness (`perfbench/src`) using the Scala compiler that ships in Spark's
jar directory, into `<build dir>/perfbench/classes`. The build dir is
`$CARGO_TARGET_DIR` when set, else `.bench_build`, relative to the checkout.
A stamp of every source's content makes a rebuild happen only when a
source changed.

    python3 perfbench/build.py          # prints the classes directory
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
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the program's build.sbt uses."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME to the Spark installation")
    return m.group(1)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(d if os.path.isabs(d) else os.path.join(ROOT, d), "perfbench")


def sources():
    out = []
    for d in SOURCE_DIRS:
        for dirpath, _, files in os.walk(d):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if needed; returns the classes directory."""
    if not os.path.isdir(SOURCE_DIRS[0]):
        raise SystemExit(f"perfbench: no program sources at {SOURCE_DIRS[0]}")
    jars = sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))
    compiler = [j for j in jars
                if re.match(r"scala-(compiler|library|reflect)-[\d.]+\.jar$", os.path.basename(j))]
    if len(compiler) != 3:
        raise SystemExit(f"perfbench: Scala compiler jars not found in {spark_jars()}")
    files = sources()
    out = build_dir()
    classes = os.path.join(out, "classes")
    want = stamp(files, jars)
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want and os.path.isdir(classes):
        return classes
    staging = classes + ".staging"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    print(f"perfbench: compiling {len(files)} sources", file=log, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(jars),
           "-d", staging] + files
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compilation failed ({r.returncode})")
    if os.path.isdir(RESOURCES):
        shutil.copytree(RESOURCES, staging, dirs_exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return classes


if __name__ == "__main__":
    print(build())
