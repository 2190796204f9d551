"""Builds the engine and the benchmark harness from source.

Compiles every Scala file under `src/main/scala` (the engine) and
`perfbench/scala` (the harness) with the Scala compiler shipped in the
Spark distribution, into `.bench_build/perfbench/classes`. A stamp of the
sources' contents skips the compile when nothing changed.

    python3 perfbench/build.py      # from the repository root
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
BENCH_SRC = os.path.join(HERE, "scala")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "stamp")


def spark_jars():
    """Jars of the Spark distribution: $SPARK_HOME/jars, else pyspark's."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        try:
            import pyspark
            home = os.path.dirname(pyspark.__file__)
        except ImportError:
            return []
    return sorted(glob.glob(os.path.join(home, "jars", "*.jar")))


def sources():
    found = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def stamp(srcs, jars):
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()


def classpath():
    """Runtime classpath: the compiled classes plus the Spark jars."""
    return os.pathsep.join([CLASSES] + spark_jars())


def build(log=sys.stderr):
    """Compiles when the sources changed; returns True on success."""
    if not os.path.isdir(ENGINE_SRC):
        print(f"perfbench: no engine sources at {os.path.relpath(ENGINE_SRC, ROOT)}", file=log)
        return False
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j).startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        print("perfbench: no Scala compiler in the Spark distribution (set SPARK_HOME)", file=log)
        return False
    srcs = sources()
    want = stamp(srcs, jars)
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return True
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(OUT, "scalac-args")
    with open(args_file, "w") as f:
        f.write("-nowarn\n-d\n" + tmp + "\n-classpath\n" + os.pathsep.join(jars) + "\n")
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "@" + args_file]
    res = subprocess.run(cmd, stdout=log, stderr=log)
    if res.returncode != 0:
        print("perfbench: compile failed", file=log)
        return False
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as f:
        f.write(want)
    return True


if __name__ == "__main__":
    sys.exit(0 if build() else 1)
