#!/usr/bin/env python3
"""Compile the program and the benchmark into .bench_build/ with scalac.

The program's sources (src/main/scala) and the benchmark's (perfbench/src)
are compiled once each, against the Spark jars, by the Scala compiler that
ships with Spark. Each output directory carries a stamp of its sources'
digest, so an unchanged tree is not compiled again.

    python3 perfbench/build.py        # prints the run-time classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")


def _spark_home():
    """$SPARK_HOME, else the installation that `spark-submit` on the PATH
    belongs to."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return home or ""


SPARK_JARS = os.path.join(_spark_home(), "jars")


class BuildError(Exception):
    pass


def _sources(rel):
    files = sorted(glob.glob(os.path.join(ROOT, rel, "**", "*.scala"), recursive=True))
    if not files:
        raise BuildError(f"no Scala sources under {rel}")
    return files


def _digest(files, extra):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _compile(name, files, classpath):
    """Compile `files` into .bench_build/classes/<name> unless its stamp
    matches; returns the output directory."""
    out = os.path.join(OUT, "classes", name)
    stamp = os.path.join(OUT, "classes", name + ".stamp")
    digest = _digest(files, classpath)
    if os.path.isfile(stamp) and open(stamp).read() == digest:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args = os.path.join(OUT, "classes", name + ".args")
    with open(args, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath, "@" + args]
    print(f"[perfbench] compiling {name} ({len(files)} files)", file=sys.stderr, flush=True)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-8000:])
        raise BuildError(f"scalac failed on {name}")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return out


def build():
    """Compile what changed; return the classpath a run uses."""
    if not glob.glob(os.path.join(SPARK_JARS, "spark-sql_*.jar")):
        raise BuildError(f"no Spark jars in '{SPARK_JARS}' (set SPARK_HOME)")
    spark_cp = os.path.join(SPARK_JARS, "*")
    program = _compile("program", _sources("src/main/scala"), spark_cp)
    bench = _compile("bench", _sources("perfbench/src"), program + os.pathsep + spark_cp)
    return os.pathsep.join([bench, program, spark_cp])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
