"""Build file of the benchmark: compiles the engine's sources and the
benchmark harness with the Scala compiler that ships with Spark.

The engine is compiled from the checkout's own `src/main/scala`, so the
benchmark always measures the code beside it. Classes land in
`.bench_build/classes-<digest>`, keyed by a digest of every source file,
and are reused while the sources are unchanged.

Usage: python3 perfbench/build.py   (run.py calls `ensure()` itself)
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


def spark_jars():
    """The jars of the Spark install: $SPARK_HOME, else the one whose
    spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise RuntimeError(f"no Spark install with a Scala compiler at {jars!r}; set SPARK_HOME")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise RuntimeError(f"no engine sources under {ROOT}/src/main/scala")
    return engine + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))


def classpath(classes):
    return os.pathsep.join([classes, os.path.join(spark_jars(), "*")])


def ensure():
    """Returns the classes directory for the current sources, compiling
    them on first use."""
    srcs = sources()
    jars = spark_jars()
    digest = hashlib.sha256()
    for path in srcs + sorted(glob.glob(os.path.join(jars, "scala-*.jar"))):
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    out = os.path.join(BUILD, "classes-" + digest.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = os.pathsep.join(glob.glob(os.path.join(jars, "scala-compiler-*.jar")) +
                               glob.glob(os.path.join(jars, "scala-library-*.jar")) +
                               glob.glob(os.path.join(jars, "scala-reflect-*.jar")))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", tmp] + srcs
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout)
        raise RuntimeError("compilation failed")
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(ensure())
