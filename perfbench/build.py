"""Build file of the benchmark package.

Compiles the engine (`src/main/scala` of the checkout) together with the
benchmark's own sources (`perfbench/src`) in one scalac pass, against the
Spark jars of the local Spark installation. The compiler is the
`scala-compiler` jar that ships with Spark, so no build tool and no
dependency resolution is needed.

The output goes to `perfbench/.build/classes` and is reused while a hash
of every input file and of the jar list stays the same.

    python3 perfbench/build.py        # build (or reuse) and print the classpath
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(BENCH_DIR, "src")
OUT = os.path.join(BENCH_DIR, ".build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "stamp")
COMPILE_TIMEOUT_S = 840


class BuildError(Exception):
    pass


def spark_jars():
    """The jars directory of the Spark installation: `$SPARK_HOME/jars`,
    else the one beside the `spark-submit` found on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise BuildError("no Spark installation found (set SPARK_HOME)")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no scala-compiler jar in {jars}")
    return jars


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise BuildError(f"engine sources not found at {ENGINE_SRC}")
    found = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files
                      if f.endswith((".scala", ".java"))]
    return sorted(found)


def input_hash(srcs, jars):
    h = hashlib.sha256()
    res = []
    if os.path.isdir(ENGINE_RES):
        for d, _, files in os.walk(ENGINE_RES):
            res += [os.path.join(d, f) for f in files]
    for p in srcs + sorted(res):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    for j in sorted(os.listdir(jars)):
        h.update(j.encode())
    return h.hexdigest()


def classpath(jars):
    """Runtime classpath: compiled classes, engine resources, Spark jars."""
    return os.pathsep.join([CLASSES, ENGINE_RES, os.path.join(jars, "*")])


def build(log=sys.stderr):
    """Compile unless the stamp matches; returns the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    digest = input_hash(srcs, jars)
    if os.path.isfile(STAMP) and open(STAMP).read().strip() == digest:
        return classpath(jars)
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-classpath", cp, "@" + argfile]
    print(f"perfbench: compiling {len(srcs)} sources", file=log, flush=True)
    try:
        subprocess.run(cmd, check=True, stdout=log, stderr=log,
                       timeout=COMPILE_TIMEOUT_S, cwd=ROOT)
    except (subprocess.CalledProcessError, subprocess.TimeoutExpired) as e:
        shutil.rmtree(OUT, ignore_errors=True)
        raise BuildError(f"compile failed: {e}")
    with open(STAMP, "w") as f:
        f.write(digest + "\n")
    return classpath(jars)


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
