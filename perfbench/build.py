"""Builds the program and the benchmark client from source.

Compiles every Scala file under ``src/main/scala`` of the checkout, then the
benchmark's own sources under ``perfbench/src`` against those classes, with
the Scala compiler and the Spark jars in ``$SPARK_HOME/jars`` (when unset,
the jar directory ``build.sbt`` compiles against). No build file of the
repository is read or changed. Outputs go to ``.bench_build/`` in the
checkout; a stamp of the source digests skips the build when nothing
changed.
"""

import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


def spark_jars():
    # the default is the jar directory build.sbt's unmanagedBase names
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Spark jars with a Scala compiler in {jars}")
    return jars


def sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def scalac(jars, classpath, out_dir, files):
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main", "-nowarn", "-encoding", "UTF-8",
           "-classpath", classpath, "-d", out_dir] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"perfbench: compile failed ({out_dir})")


def build():
    """Returns the classpath of the built program and benchmark."""
    main = sources(MAIN_SRC)
    if not main:
        raise SystemExit(f"perfbench: no program sources under {MAIN_SRC}")
    bench = sources(BENCH_SRC)
    jars = spark_jars()
    main_cls = os.path.join(BUILD, "main-classes")
    bench_cls = os.path.join(BUILD, "bench-classes")
    classpath = os.pathsep.join([bench_cls, main_cls, os.path.join(jars, "*")])
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamps = {"main": digest(main), "bench": digest(main + bench)}
        for name, out_dir, files, cp in (
                ("main", main_cls, main, os.path.join(jars, "*")),
                ("bench", bench_cls, bench,
                 os.pathsep.join([main_cls, os.path.join(jars, "*")]))):
            stamp = os.path.join(BUILD, f"{name}.stamp")
            if os.path.exists(stamp) and open(stamp).read() == stamps[name]:
                continue
            if os.path.exists(stamp):
                os.remove(stamp)
            scalac(jars, cp, out_dir, files)
            with open(stamp, "w") as f:
                f.write(stamps[name])
    return classpath


if __name__ == "__main__":
    print(build())
