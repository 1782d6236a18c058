#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (`src/main/scala`) together with the harness
(`perfbench/src`) into `.bench_build/classes` with the Scala 2.13
compiler that ships in the Spark distribution's `jars/` directory, the
same jars the program compiles and runs against (`build.sbt`'s
`unmanagedBase`). A stamp of every source's content skips the compile
when nothing changed.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = ".bench_build"


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-2.13.*.jar")):
        raise SystemExit(f"no Scala 2.13 compiler under {jars}; set SPARK_HOME")
    return jars


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"{main} not found: run from the repository root")
    srcs = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    return srcs + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))


def build(root):
    """Returns the classes directory, compiling first if sources changed."""
    jars = spark_jars()
    srcs = sources(root)
    h = hashlib.sha256(jars.encode())
    for p in srcs + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(root, BUILD_DIR)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-d", tmp, "-classpath", cp, "-nowarn", "@" + args_file]
    r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"compile failed ({r.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build(os.getcwd()))
