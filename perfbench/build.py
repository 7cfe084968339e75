#!/usr/bin/env python3
"""Build the benchmark: compile the engine (src/main/scala) together with the
benchmark (perfbench/src) into perfbench/.work/classes.

The Scala compiler and the Spark runtime both come from the Spark
distribution's jars ($SPARK_HOME/jars, or the jars next to `spark-submit` on
PATH), so the build needs no dependency resolution. A content hash of every
source file is stamped next to the classes; an unchanged tree is not rebuilt.

    python3 perfbench/build.py          # from the repository root
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, ".work")
CLASSES = os.path.join(WORK, "classes")
STAMP = os.path.join(WORK, "classes.stamp")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH_DIR, "src")]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise SystemExit("build: no Spark distribution found (set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise SystemExit("build: no java found (set JAVA_HOME)")
    return exe


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"build: missing source directory {os.path.relpath(d, ROOT)}")
        for dirpath, _, files in os.walk(d):
            out.extend(os.path.join(dirpath, f) for f in files if f.endswith(".scala"))
    if not out:
        raise SystemExit("build: no Scala sources found")
    return sorted(out)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile if the sources changed; return the runtime classpath."""
    srcs = sources()
    want = digest(srcs)
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(STAMP) and open(STAMP).read().strip() == want:
            return classpath()
        shutil.rmtree(CLASSES, ignore_errors=True)
        os.makedirs(CLASSES)
        args_file = os.path.join(WORK, "sources.txt")
        with open(args_file, "w") as f:
            f.write("\n".join(f'"{s}"' for s in srcs) + "\n")
        cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", CLASSES,
               "@" + args_file]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if proc.returncode != 0:
            sys.stderr.write(proc.stdout[-20000:])
            raise SystemExit(f"build: scalac failed with code {proc.returncode}")
        with open(STAMP, "w") as f:
            f.write(want + "\n")
    return classpath()


if __name__ == "__main__":
    build()
    print("build: ok")
