"""Compile the program (src/main/scala) and the benchmark (perfbench/src)
into one class directory with the Scala compiler that ships in Spark's jars.

    python3 perfbench/build.py      # prints the class directory

The output goes to $CARGO_TARGET_DIR/perfbench (default .bench_build/perfbench
under the repository root) and is rebuilt only when a source file changes.
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALA_VERSION = "2.13.17"


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the first spark-submit on the PATH
    that ships the Scala compiler."""
    path = os.environ.get("PATH", "").split(os.pathsep)
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in path if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if os.path.isfile(os.path.join(jars, f"scala-compiler-{SCALA_VERSION}.jar")):
            return jars
    raise SystemExit("perfbench: no Spark jars with the Scala compiler found (set SPARK_HOME)")


def sources(base):
    top = os.path.join(ROOT, base)
    if not os.path.isdir(top):
        raise SystemExit(f"perfbench: missing source directory {base}")
    found = []
    for d, _, files in os.walk(top):
        found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def out_dir():
    target = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(ROOT, target, "perfbench")


def compile_into(name, srcs, classpath, depends=""):
    """Compile `srcs` into <out>/<name> unless its stamp (over the sources
    and the stamp `depends` of what they compile against) already matches.
    Returns the class directory and its stamp."""
    h = hashlib.sha256((SCALA_VERSION + depends).encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(out_dir(), name)
    stamp_file = classes + ".stamp"
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return classes, stamp
    jars = spark_jars()
    compiler = os.pathsep.join(os.path.join(jars, f"scala-{m}-{SCALA_VERSION}.jar")
                               for m in ("compiler", "library", "reflect"))
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = classes + ".sources"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", tmp, "@" + argfile]
    print(f"perfbench: compiling {len(srcs)} Scala files into {name}", file=sys.stderr)
    subprocess.run(cmd, check=True, stdout=sys.stderr, timeout=800)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return classes, stamp


def build():
    """Return the class directories (program, benchmark), compiling first
    whichever has changed sources."""
    spark = os.path.join(spark_jars(), "*")
    program, stamp = compile_into("program", sources("src/main/scala"), spark)
    bench, _ = compile_into("bench", sources("perfbench/src"),
                            os.pathsep.join([program, spark]), depends=stamp)
    return [program, bench]


if __name__ == "__main__":
    print(os.pathsep.join(build()))
