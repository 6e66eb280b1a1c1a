#!/usr/bin/env python3
"""Build the engine and the benchmark from source with the Scala compiler
that ships with Spark, into .bench_build/{engine,bench}-<hash>/ of the
checkout.

Each hash covers the sources compiled into that directory (the benchmark's
also covers the engine's), so a checkout of another commit builds afresh
and an unchanged one reuses its build.

    python3 perfbench/build.py        # prints the two class directories
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
BUILD_ROOT = os.path.join(ROOT, ".bench_build")
SCALA = "2.13.17"


class BuildError(Exception):
    pass


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the first Spark on PATH that ships
    the Scala compiler this build uses."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(
            os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if os.path.isfile(os.path.join(jars, f"scala-compiler-{SCALA}.jar")):
            return jars
    raise BuildError(f"no Spark with Scala {SCALA}: set SPARK_HOME")


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def scalac(files, out, classpath, jars):
    os.makedirs(out)
    args = os.path.join(os.path.dirname(out), "sources.args")
    with open(args, "w") as f:
        f.write("\n".join(files))
    compiler = ":".join(os.path.join(jars, f"scala-{p}-{SCALA}.jar")
                        for p in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", classpath, "@" + args]
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise BuildError(f"compile failed: {out}")


def digest(files, salt=""):
    h = hashlib.sha256(salt.encode())
    for path in files:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def compiled(name, files, classpath, jars):
    """Compile `files` into .bench_build/<name>, unless already there."""
    out = os.path.join(BUILD_ROOT, name)
    if not os.path.isfile(os.path.join(out, "OK")):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        scalac(files, os.path.join(tmp, "classes"), classpath, jars)
        open(os.path.join(tmp, "OK"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    return os.path.join(out, "classes")


def build():
    """Return (engine classes, benchmark classes), compiling what is stale."""
    engine = sources(ENGINE_SRC)
    bench = sources(BENCH_SRC)
    if not engine or not bench:
        raise BuildError("engine or benchmark sources missing")
    jars = spark_jars()
    cp = os.path.join(jars, "*")
    engine_hash = digest(engine)
    engine_out = compiled("engine-" + engine_hash, engine, cp, jars)
    bench_out = compiled("bench-" + digest(bench + [os.path.abspath(__file__)],
                                           engine_hash),
                         bench, cp + ":" + engine_out, jars)
    return engine_out, bench_out


if __name__ == "__main__":
    try:
        print("\n".join(build()))
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
