#!/usr/bin/env python3
"""Build file of the graft benchmark: compiles the library sources
(`src/main/scala`) and the benchmark's own (`graftbench/src`) into
`.bench_build/classes` with the Scala compiler that ships among Spark's
jars, the same jar set the library's `build.sbt` compiles against, and
copies the library's resources (`src/main/resources`) next to them.

A stamp of every source file's contents skips the compile when nothing
changed. Run it alone with `python3 graftbench/build.py`; `run.py`
calls `build()` before every run.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jar directory: set SPARK_HOME")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else None
    return exe if exe and os.path.exists(exe) else shutil.which("java") or "java"


RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def sources():
    lib = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(lib):
        raise BuildError("no library sources at src/main/scala (run from a full checkout)")
    files = []
    for top in (lib, os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(top, "**", "*.scala"), recursive=True)
    files += [f for f in glob.glob(os.path.join(RESOURCES, "**", "*"), recursive=True) if os.path.isfile(f)]
    return sorted(files)


def stamp(files, jars):
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compiles if any source changed; returns the runtime classpath."""
    jars = spark_jars()
    files = sources()
    want = stamp(files, jars)
    cp = CLASSES + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(STAMP) and open(STAMP).read().strip() == want:
        return cp
    compiler = [glob.glob(os.path.join(jars, f"scala-{n}-2.*.jar")) for n in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise BuildError(f"no Scala compiler jars in {jars}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(f for f in files if f.endswith(".scala")) + "\n")
    t0 = time.time()
    print(f"[build] compiling {len(files)} sources", file=log, flush=True)
    r = subprocess.run(
        [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(c[0] for c in compiler),
         "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
         "-d", CLASSES, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    if os.path.isdir(RESOURCES):
        shutil.copytree(RESOURCES, CLASSES, dirs_exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")
    print(f"[build] done in {time.time() - t0:.1f} s", file=log, flush=True)
    return cp


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(1)
