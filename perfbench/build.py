"""Builds the benchmark: the engine's sources plus perfbench/src, compiled
with the Scala compiler that ships in Spark's jars directory.

    python3 perfbench/build.py      # from the repository root

Classes land in .bench_build/classes-<hash>, where <hash> covers every
source file; an up-to-date build is reused. Prints the classpath to use.
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        sys.exit("perfbench: no Spark jars directory (set SPARK_HOME)")
    return jars


def sources():
    if not os.path.isdir(ENGINE_SRC):
        sys.exit(f"perfbench: engine sources not found at {ENGINE_SRC}")
    out = []
    for top in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compiles if needed; returns the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    cp = os.pathsep.join([classes, os.path.join(jars, "*")])
    if os.path.isfile(os.path.join(classes, ".ok")):
        return cp
    os.makedirs(BUILD, exist_ok=True)
    for old in os.listdir(BUILD):
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(BUILD, old))
    os.makedirs(classes)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    print("perfbench: compiling %d sources" % len(srcs), file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        sys.exit("perfbench: compile failed")
    open(os.path.join(classes, ".ok"), "w").close()
    return cp


if __name__ == "__main__":
    print(build())
