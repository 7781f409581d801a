"""Builds the engine (src/main) and the benchmark (perfbench/src) into one
class directory under .bench_build/perfbench, with the Scala compiler and
Spark jars of $SPARK_HOME/jars. A build is reused while a hash of every
source file and of the compiler flags is unchanged.

    python3 perfbench/build.py     # prints the class directory
"""

import hashlib
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(REPO, ".bench_build", "perfbench")
SOURCE_ROOTS = [
    os.path.join(REPO, "src", "main"),
    os.path.join(REPO, "perfbench", "src"),
]
SCALAC_FLAGS = ["-encoding", "UTF-8", "-nowarn"]
JAVAC_FLAGS = ["-encoding", "UTF-8", "-nowarn", "--add-modules", "jdk.incubator.vector"]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BuildError("SPARK_HOME must name a Spark installation with a jars/ directory")
    return os.path.join(home, "jars", "*")


def sources():
    found = []
    for root in SOURCE_ROOTS:
        for d, _, files in os.walk(root):
            found += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    if not any(f.startswith(SOURCE_ROOTS[0]) for f in found):
        raise BuildError(f"no engine sources under {SOURCE_ROOTS[0]}")
    return sorted(found)


def stamp(files):
    h = hashlib.sha256(" ".join(SCALAC_FLAGS + JAVAC_FLAGS).encode())
    for f in files:
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run(cmd):
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError(f"{cmd[0]} failed:\n{proc.stdout[-4000:]}")


def build():
    """Returns the class directory, compiling first when sources changed."""
    files = sources()
    want = stamp(files)
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(classes, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return classes
    jars = spark_jars()
    staging = os.path.join(OUT, "classes.tmp")
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    print(f"perfbench: compiling {len(files)} source files", file=sys.stderr)
    args = os.path.join(OUT, "sources.txt")
    with open(args, "w") as fh:
        fh.write("\n".join(files))
    # scalac reads the Java sources for their signatures; javac compiles them
    run(["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
         *SCALAC_FLAGS, "-d", staging, "-classpath", jars, "@" + args])
    java_files = [f for f in files if f.endswith(".java")]
    if java_files:
        run(["javac", *JAVAC_FLAGS, "-d", staging, "-cp", staging + os.pathsep + jars, *java_files])
    with open(os.path.join(staging, ".stamp"), "w") as fh:
        fh.write(want)
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(staging, classes)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)
