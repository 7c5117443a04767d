#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark (graftbench/src) from source with the Scala compiler that ships
among Spark's jars, into .bench_build/ at the repository root.

    python3 graftbench/build.py   # build if any source changed

Each of the two class dirs carries a stamp of the sources it was built
from, so an unchanged tree is not rebuilt. Spark's jars are found through
SPARK_HOME, or else next to `spark-submit` on PATH.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise BuildError("Spark jars not found: set SPARK_HOME or put spark-submit on PATH")
    return jars


def sources(root):
    files = sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))
    if not files:
        raise BuildError(f"no Scala sources under {os.path.relpath(root, ROOT)}")
    return files


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def compile_if_stale(name, srcs, classpath, stamp_key):
    out = os.path.join(BUILD, name)
    stamp = os.path.join(out, ".stamp")
    if os.path.exists(stamp) and open(stamp).read() == stamp_key:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    jars = spark_jars()
    compiler = [os.path.join(jars, j) for j in os.listdir(jars)
                if j.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise BuildError(f"scala compiler, library and reflect jars not all in {jars}")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath, "-d", out] + srcs
    print(f"[graftbench] compiling {name}: {len(srcs)} files", file=sys.stderr)
    r = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"compiling {name} failed (exit {r.returncode})")
    with open(stamp, "w") as fh:
        fh.write(stamp_key)
    return out


def build():
    """Build what is stale; return the runtime classpath."""
    jars = os.path.join(spark_jars(), "*")
    engine_src = sources(ENGINE_SRC)
    bench_src = sources(BENCH_SRC)
    engine_key = digest(engine_src)
    engine = compile_if_stale("engine", engine_src, jars, engine_key)
    bench_cp = os.pathsep.join([engine, jars])
    bench = compile_if_stale("bench", bench_src, bench_cp, digest(bench_src, engine_key))
    return os.pathsep.join([bench, engine, jars])


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"[graftbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
