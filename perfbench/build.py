"""Builds the program and the benchmark from source.

Compiles the program's `src/main/scala` together with `perfbench/src` with
the Scala compiler that ships in Spark's jar directory, into
`.bench_build/classes`, then writes the program's forward oracle SQL and
gazetteer names into `.bench_build/oracle`. A stamp of every source file's
hash skips the build when nothing changed. Spark's jar directory is `$SPARK_HOME/jars`,
or the `jars` directory beside `spark-submit` on the PATH.

    python3 perfbench/build.py          # from the repository root
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
CLASSES = os.path.join(OUT, "classes")
# the program's forward oracle SQL and gazetteer names, dumped after a build
ORACLE = os.path.join(OUT, "oracle")
STAMP = os.path.join(OUT, "classes.stamp")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(RuntimeError):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BuildError("Spark jars not found: set SPARK_HOME")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no scala-compiler jar in {jars}")
    return jars


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError(f"program sources missing: {PROGRAM_SRC}")
    files = []
    for base in (PROGRAM_SRC, BENCH_SRC):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def stamp_of(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Runtime classpath: the compiled classes, then Spark's jars."""
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def build(log=sys.stderr):
    files = sources()
    stamp = stamp_of(files)
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    jars = os.path.join(spark_jars(), "*")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES, "-classpath", jars,
           "@" + argfile]
    print("building program and benchmark ...", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log, timeout=800)
    if r.returncode != 0:
        raise BuildError(f"scalac failed with code {r.returncode}")
    shutil.rmtree(ORACLE, ignore_errors=True)
    r = subprocess.run(["java", "-XX:-UsePerfData", "-cp", classpath(), "perfbench.OracleDump",
                        ORACLE], stdout=log, stderr=log, timeout=120)
    if r.returncode != 0:
        raise BuildError(f"oracle dump failed with code {r.returncode}")
    with open(STAMP, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
