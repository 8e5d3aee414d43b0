#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark (perfbench/src) into one class directory with the Scala
compiler that ships in the Spark distribution, so no build tool, network
or cache outside the checkout is needed.

    python3 perfbench/build.py        # prints the class directory

The Spark jar directory is $SPARK_HOME/jars, else the `unmanagedBase`
that the repository's build.sbt names. A build is skipped when the
sources' hash matches the last successful one.
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    except OSError:
        pass
    raise SystemExit("perfbench: no Spark jars (set SPARK_HOME)")


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not prog:
        raise SystemExit("perfbench: program sources (src/main/scala) not found")
    return prog + bench


def build():
    """Compile if needed; return the class directory."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(BUILD, "stamp")
    classes = os.path.join(BUILD, "classes")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    jars = spark_jars()
    comp = [os.path.join(jars, j) for j in
            ("scala-compiler-*.jar", "scala-library-*.jar", "scala-reflect-*.jar")]
    comp = [sorted(glob.glob(c))[-1] for c in comp]
    subprocess.run(["rm", "-rf", classes], check=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", ":".join(comp),
         "scala.tools.nsc.Main", "-nowarn", "-d", classes,
         "-cp", os.path.join(jars, "*"), "@" + argfile],
        stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit("perfbench: compilation failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classes


if __name__ == "__main__":
    print(build())
