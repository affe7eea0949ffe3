#!/usr/bin/env python3
"""Builds the benchmark's JVM side from source: the program
(`src/main/scala`) and the harness (`perfbench/src`), compiled together
with the Scala compiler that ships in Spark's jar directory.

The classes go to `<build dir>/perfbench.jar`; a stamp over every
source file and the jar list skips the compile when nothing changed. A
rebuild also drops the class-data archive `perfbench/run.py` keeps next
to the jar. The build dir is `$CARGO_TARGET_DIR` when set (relative to
the checkout), else `.bench_build`.

Usage: python3 perfbench/build.py    (prints the classpath)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class BuildError(Exception):
    pass


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        raise BuildError("no Spark jars found: set SPARK_HOME")
    return jars


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not prog:
        raise BuildError("program sources (src/main/scala) not found next to perfbench/")
    harness = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return prog + harness


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("java not found: set JAVA_HOME")
    return exe


def build(log=sys.stderr):
    """Compiles if needed; returns the runtime classpath entries."""
    srcs, jars = sources(), spark_jars()
    h = hashlib.sha256()
    for p in jars:
        h.update(os.path.basename(p).encode())
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(), "perfbench.jar")
    stamp_file = os.path.join(build_dir(), "perfbench.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp and os.path.exists(out):
        return [out] + jars
    for stale in (stamp_file, archive_path()):
        if os.path.exists(stale):
            os.remove(stale)
    tmp = os.path.join(build_dir(), "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(build_dir(), "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    r = subprocess.run(
        [java(), "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={build_dir()}",
         "-cp", os.pathsep.join(jars), "scala.tools.nsc.Main",
         "-d", tmp, "-classpath", os.pathsep.join(jars), "-nowarn", "@" + args_file],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    # a jar rather than a directory: class-data archives only cover jars
    with zipfile.ZipFile(out, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(tmp):
            for name in sorted(files):
                path = os.path.join(d, name)
                z.write(path, os.path.relpath(path, tmp))
    shutil.rmtree(tmp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return [out] + jars


def archive_path():
    """The JVM class-data archive of the built jar (see run.py)."""
    return os.path.join(build_dir(), "perfbench.jsa")


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()))
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
