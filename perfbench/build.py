#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine (`src/main/scala`) together with the harness
(`perfbench/src`) with the Scala compiler that ships in Spark's jar
directory, into `.bench_build/classes-<hash of the sources>`. A build
whose sources are unchanged is reused.

    python3 perfbench/build.py        # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        cands.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    for c in cands:
        if glob.glob(os.path.join(c, "spark-sql_*.jar")) and glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    raise SystemExit("perfbench: no Spark jar directory with a Scala compiler (set SPARK_HOME)")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise SystemExit("perfbench: no java found (set JAVA_HOME)")
    return exe


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not engine:
        raise SystemExit("perfbench: engine sources (src/main/scala) not found")
    return engine + harness


def build():
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs + sorted(glob.glob(os.path.join(jars, "scala-*.jar"))):
        h.update(os.path.relpath(p, ROOT).encode() if p.startswith(ROOT) else os.path.basename(p).encode())
        if p.startswith(ROOT):
            with open(p, "rb") as f:
                h.update(f.read())
    classes = os.path.join(OUT, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".complete")):
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = [java(), "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    open(os.path.join(classes, ".complete"), "w").close()
    return classes


if __name__ == "__main__":
    print(build())
