#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (`src/main/scala`) and the
benchmark harness (`perfbench/src`) with the Scala compiler that ships in the
Spark distribution's `jars/` directory, the same jars the engine links
against. No sbt, no dependency resolution.

Outputs go to `.bench_build/perfbench/` at the checkout root, stamped with a
hash of every source file; an up-to-date build is reused.

    python3 perfbench/build.py          # build (or confirm up to date)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jars directory: $SPARK_HOME/jars, else the
    one beside `spark-submit` on PATH."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sub = shutil.which("spark-submit")
    if sub:
        cands.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(sub))), "jars"))
    for c in cands:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")) and glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    raise BuildError("no Spark distribution with a Scala compiler found (set SPARK_HOME)")


def sources(base):
    return sorted(glob.glob(os.path.join(base, "**", "*.scala"), recursive=True))


def stamp(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def scalac(jars, classpath, srcs, dest, log):
    os.makedirs(dest, exist_ok=True)
    argfile = dest + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", dest, "-classpath", classpath, "@" + argfile]
    with open(log, "a") as lf:
        rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, timeout=800).returncode
    os.remove(argfile)
    if rc != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        raise BuildError(f"scalac failed ({rc}) for {dest}")


def build(quiet=False):
    """Build what is stale; return (jars dir, classpath of engine + harness).
    The engine and the harness carry separate stamps, so a harness change
    does not recompile the engine."""
    if not os.path.isdir(ENGINE_SRC) or not sources(ENGINE_SRC):
        raise BuildError(f"engine sources not found under {os.path.relpath(ENGINE_SRC, os.getcwd())}")
    jars = spark_jars()
    jar_cp = os.path.join(jars, "*")
    engine_cls, bench_cls = os.path.join(OUT, "engine-classes"), os.path.join(OUT, "bench-classes")
    engine_stamp = stamp(sources(ENGINE_SRC))
    steps = [(engine_cls, sources(ENGINE_SRC), jar_cp, engine_stamp),
             # the harness stamp covers the engine's too: it links against it
             (bench_cls, sources(BENCH_SRC), jar_cp + os.pathsep + engine_cls,
              stamp(sources(BENCH_SRC)) + engine_stamp)]
    for dest, srcs, cp, want in steps:
        stamp_file = dest + ".stamp"
        if os.path.exists(stamp_file) and open(stamp_file).read() == want:
            continue
        if not quiet:
            print(f"[perfbench] compiling {os.path.basename(dest)}", file=sys.stderr)
        staging = dest + ".staging"
        shutil.rmtree(staging, ignore_errors=True)
        log = os.path.join(OUT, "build.log")
        os.makedirs(OUT, exist_ok=True)
        open(log, "w").close()
        scalac(jars, cp, srcs, staging, log)
        shutil.rmtree(dest, ignore_errors=True)
        os.rename(staging, dest)
        with open(stamp_file, "w") as fh:
            fh.write(want)
    return jars, [engine_cls, bench_cls]


if __name__ == "__main__":
    try:
        build()
    except (BuildError, subprocess.TimeoutExpired) as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
    print("[perfbench] build up to date", file=sys.stderr)
