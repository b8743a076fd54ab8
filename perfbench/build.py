#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the repository's library sources (src/main/scala) and the
benchmark's own sources (perfbench/scala) with the Scala compiler that
ships in the Spark distribution ($SPARK_HOME/jars, the jars build.sbt
compiles against), into .bench_build/ at the repository root. A build
is reused while the sources it was made from are unchanged.
Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        raise SystemExit("set SPARK_HOME to a Spark 4 distribution")
    return home


SPARK_JARS = os.path.join(_spark_home(), "jars")
OUT = os.path.join(ROOT, ".bench_build")


def spark_classpath():
    jars = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    if not jars:
        raise SystemExit(f"no Spark jars under {SPARK_JARS}")
    return jars


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _compile(name, srcs, extra_cp):
    if not srcs:
        raise SystemExit(f"no sources for {name}")
    h = hashlib.sha256()
    for p in srcs + extra_cp:
        h.update(p.encode())
        # a dependency's stamp stands for its sources
        for f in (p, p + ".stamp"):
            if os.path.isfile(f):
                with open(f, "rb") as fh:
                    h.update(fh.read())
    stamp = h.hexdigest()
    dest = os.path.join(OUT, name)
    stamp_file = dest + ".stamp"
    if os.path.isdir(dest) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return dest
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    argfile = dest + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = ":".join(extra_cp + spark_classpath())
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", dest, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(dest, ignore_errors=True)
        sys.stderr.write(r.stdout)
        raise SystemExit(f"compiling {name} failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return dest


def build():
    """Compile both packages; return the runtime classpath entries."""
    lib = _compile("graft-classes", _sources(os.path.join(ROOT, "src", "main", "scala")), [])
    bench = _compile("bench-classes", _sources(os.path.join(HERE, "scala")), [lib])
    return [bench, lib, os.path.join(SPARK_JARS, "*")]


if __name__ == "__main__":
    print(":".join(build()))
