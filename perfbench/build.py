"""Build file of the benchmark: compiles the program's Scala sources
(`src/main/scala`) together with the benchmark's own JVM code (`perfbench/src`)
into `.bench_build/perfbench/classes`, against the jars of the installed
Spark (`$SPARK_HOME/jars`, else the jars of the `pyspark` package),
which also carry the Scala compiler. A build whose sources are
unchanged is reused.

Usage: python3 perfbench/build.py
"""
import hashlib
import importlib.util
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(BUILD, "classes")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:  # the jars the pyspark package ships
        spec = importlib.util.find_spec("pyspark")
        jars = os.path.join(os.path.dirname(spec.origin), "jars") if spec else ""
    if not os.path.isdir(jars):
        raise SystemExit("perfbench: no Spark jars found (set SPARK_HOME)")
    return jars


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def _sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise SystemExit(f"perfbench: program sources not found at {PROGRAM_SRC}")
    found = []
    for top in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    if not any(f.startswith(PROGRAM_SRC) for f in found):
        raise SystemExit(f"perfbench: no Scala sources under {PROGRAM_SRC}")
    return sorted(found)


def build(log=sys.stderr):
    """Compile if any source changed; return the runtime classpath."""
    srcs = _sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classpath()
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    jars = os.path.join(spark_jars(), "*")
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    print(f"perfbench: compiling {len(srcs)} Scala files", file=log, flush=True)
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
         "-nowarn", "-d", CLASSES, "-classpath", jars, "@" + argfile],
        stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit("perfbench: compilation failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classpath()


if __name__ == "__main__":
    print(build())
