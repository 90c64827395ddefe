#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles the program (the repository's `src/main/scala`) together with
the benchmark's own sources (`perfbench/src`) with the Scala compiler
that ships in the Spark distribution, against the Spark jars, into
`perfbench/out/classes`, packed as `perfbench/out/bench.jar`. Everything the benchmark generates stays
under `perfbench/out/`, which `perfbench/.gitignore` ignores.

A stamp (hash of every source file, the compiler jar and the compiler
options) makes the build incremental at whole-tree granularity: an
unchanged tree is not recompiled.

    python3 perfbench/build.py        # from the repository root
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALAC_OPTS = ["-nowarn"]
COMPILER_HEAP = "-Xmx2g"


def spark_jars():
    """The jars of the Spark distribution at $SPARK_HOME: the benchmark
    compiles against them and runs on them."""
    return os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


def build_dir():
    return os.path.join(HERE, "out")


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    own = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"),
                           recursive=True))
    return prog, own


def stamp_of(files, jars):
    h = hashlib.sha256()
    compiler = sorted(glob.glob(os.path.join(jars, "scala-compiler-*.jar")))
    for item in compiler + SCALAC_OPTS:
        h.update(os.path.basename(item).encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if the tree changed; return the jar of the classes.
    Raises SystemExit(2) when the program's sources are absent."""
    prog, own = sources()
    if not prog or not own:
        print("build: program sources (src/main/scala) or benchmark "
              "sources (perfbench/src) not found", file=log)
        raise SystemExit(2)
    jars = spark_jars()
    if not os.path.isdir(jars):
        print(f"build: Spark jars not found at {jars} (set SPARK_HOME)",
              file=log)
        raise SystemExit(2)
    out = build_dir()
    os.makedirs(out, exist_ok=True)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    stamp = stamp_of(prog + own, jars)
    with open(os.path.join(out, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return os.path.join(out, "bench.jar")
        # what the program alone builds (the serving index, the one-shot
        # answers) is keyed by the program's sources
        with open(os.path.join(out, "program.stamp"), "w") as fh:
            fh.write(stamp_of(prog, jars))
        shutil.rmtree(classes, ignore_errors=True)
        # class-data sharing archives hold the old classes (see run.py)
        shutil.rmtree(os.path.join(out, "cds"), ignore_errors=True)
        os.makedirs(classes)
        argfile = os.path.join(out, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(prog + own) + "\n")
        cmd = ["java", COMPILER_HEAP, "-Xss8m", "-cp",
               os.path.join(jars, "*"), "scala.tools.nsc.Main",
               "-usejavacp", "-d", classes] + SCALAC_OPTS + ["@" + argfile]
        print(f"build: compiling {len(prog)} program + {len(own)} "
              f"benchmark sources", file=log)
        r = subprocess.run(cmd, stdout=log, stderr=log, cwd=ROOT)
        if r.returncode != 0:
            print("build: compilation failed", file=log)
            raise SystemExit(2)
        pack(classes, os.path.join(out, "bench.jar"))
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    return os.path.join(out, "bench.jar")


def pack(classes, jar):
    """The compiled classes as one jar: the JVM's class-data sharing
    archive (see run.py) only holds classes loaded from jars."""
    tmp = jar + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                path = os.path.join(d, f)
                z.write(path, os.path.relpath(path, classes))
    os.replace(tmp, jar)


if __name__ == "__main__":
    print(build())
