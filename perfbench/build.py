#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark harness (perfbench/scala) into one class directory with the
Scala compiler that ships with Spark, so no build tool or network is needed.

    python3 perfbench/build.py            # prints the class directory

The output goes to .bench_build/classes under the current directory (the
checkout root). A stamp of the sources' paths, sizes and contents skips the
compile when nothing changed.
"""
import glob
import hashlib
import importlib.util
import os
import subprocess
import sys

BUILD_DIR = ".bench_build"
SOURCE_ROOTS = ("src/main/scala", "perfbench/scala")


class BuildError(Exception):
    pass


def sources():
    found = []
    for root in SOURCE_ROOTS:
        if not os.path.isdir(root):
            raise BuildError(f"missing source directory {root}: run from the "
                             "root of a checkout of the repository")
        found += sorted(glob.glob(f"{root}/**/*.scala", recursive=True))
    return found


def spark_jars():
    """The jars directory of the Spark distribution: $SPARK_HOME/jars, else
    the one inside an installed pyspark package."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    spec = importlib.util.find_spec("pyspark")
    if spec and spec.origin:
        candidates.append(os.path.join(os.path.dirname(spec.origin), "jars"))
    for jars in candidates:
        if glob.glob(f"{jars}/scala-compiler-*.jar"):
            return jars
    raise BuildError("no Spark distribution with a Scala compiler found "
                     "(set SPARK_HOME)")


def classpath():
    return f"{spark_jars()}/*"


def build():
    """Compile if the sources changed; return the class directory."""
    srcs = sources()
    jars = classpath()
    h = hashlib.sha256()
    for s in srcs:
        with open(s, "rb") as f:
            h.update(s.encode() + b"\0" + f.read())
    stamp = h.hexdigest()
    out = os.path.join(BUILD_DIR, "classes")
    stamp_file = os.path.join(BUILD_DIR, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    subprocess.run(["rm", "-rf", out], check=True)
    os.makedirs(out)
    args_file = os.path.join(BUILD_DIR, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
         "-d", out, "-classpath", jars, "-nowarn", "@" + args_file],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
