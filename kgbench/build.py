"""Build file of the KG-build benchmark.

Compiles the engine's main sources (``src/main/scala`` at the checkout
root) together with this benchmark's Scala sources (``kgbench/src``) into
``.bench_build/classes``, using the Scala compiler that ships in Spark's
jar directory (no sbt, no dependency resolution, nothing written outside
the checkout). A stamp keyed on every source file's path and content skips
the compile when nothing changed.

    python3 kgbench/build.py        # prints the classes directory
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
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
SCALAC_FLAGS = ["-deprecation:false", "-nowarn", "-release", "17"]


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the first Spark install on PATH."""
    homes = [os.environ.get("SPARK_HOME") or ""] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "spark-sql_*.jar")):
            return jars
    raise SystemExit("build: no Spark jars found (set SPARK_HOME)")


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"build: engine sources not found at {ENGINE_SRC}")
    found = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build():
    """Compile if the sources changed; return the classes directory."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(" ".join(SCALAC_FLAGS).encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    digest = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return CLASSES
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-cp", cp, "scala.tools.nsc.Main",
           *SCALAC_FLAGS, "-classpath", cp, "-d", CLASSES, f"@{argfile}"]
    print(f"build: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed (exit {r.returncode})")
    with open(STAMP, "w") as f:
        f.write(digest)
    return CLASSES


if __name__ == "__main__":
    print(build())
