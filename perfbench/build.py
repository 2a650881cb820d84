#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources together with
the benchmark's own Scala sources (perfbench/scala) into one class
directory, with the Scala compiler and Spark jars of the Spark install
($SPARK_HOME, else the first install whose spark-submit is on PATH).

The build is skipped when a stamp of every source file's path and content
matches the last build. Usage: python3 perfbench/build.py [<repo root>]
Prints the class path to run with.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build/graft"


def spark_home():
    """$SPARK_HOME, else the first Spark install (a dir with bin/spark-submit
    and jars/) whose spark-submit is on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    raise SystemExit("build: no Spark install found; set SPARK_HOME")


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/scala/*.scala")))
    if not main:
        raise SystemExit(f"build: no graft sources under {root}/src/main/scala")
    return main + bench


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def class_path(root):
    out = os.path.join(root, BUILD_DIR)
    return os.pathsep.join([os.path.join(out, "classes"),
                            os.path.join(root, "src/main/resources"),
                            os.path.join(spark_home(), "jars", "*")])


def build(root):
    files = sources(root)
    out = os.path.join(root, BUILD_DIR)
    want = stamp(files)
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return class_path(root)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "classes"))
    jars = os.path.join(spark_home(), "jars", "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-d", os.path.join(out, "classes"), "-classpath", jars, "-nowarn",
           "-Ybackend-parallelism", str(min(4, os.cpu_count() or 1))] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return class_path(root)


if __name__ == "__main__":
    print(build(os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".")))
