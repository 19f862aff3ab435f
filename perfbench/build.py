"""Build file of the benchmark: compiles the engine (`src/main/scala`)
together with the benchmark harness (`perfbench/harness`) into one class
directory, with the Scala compiler that ships in the Spark distribution.

The output directory is keyed by a hash of every source file, so an
unchanged tree is built once per checkout. Usage:

    python3 perfbench/build.py          # prints the class directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
COMPILER_JARS = ("scala-compiler", "scala-library", "scala-reflect")


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one next to `spark-submit` on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("build: set SPARK_HOME or put spark-submit on the PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        raise SystemExit(f"build: no Spark jars in {jars}")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise SystemExit("build: no engine sources under src/main/scala")
    harness = sorted(glob.glob(os.path.join(BENCH, "harness", "*.scala")))
    return engine + harness


def ensure():
    """Compile when the sources changed; return the class directory."""
    jars = spark_jars()
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    out = os.path.join(BUILD, "classes-" + digest.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "_OK")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    compiler = []
    for name in COMPILER_JARS:
        found = glob.glob(os.path.join(jars, name + "-*.jar"))
        if not found:
            raise SystemExit(f"build: {name} jar missing from {jars}")
        compiler.append(found[0])
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", out, "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit(f"build: scalac failed ({proc.returncode})")
    open(os.path.join(out, "_OK"), "w").close()
    return out


if __name__ == "__main__":
    print(ensure())
