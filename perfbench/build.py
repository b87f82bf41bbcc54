"""Build file of the benchmark package: compiles the program's sources
(``src/main/scala``) together with the benchmark's own (``perfbench/src``)
into one class directory with the Scala compiler that ships among the Spark
jars. A stamp of the source hashes skips the build when nothing changed.

    python3 perfbench/build.py        # prints the class directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
OUT = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the repository's own
    `unmanagedBase` in build.sbt. It also holds the Scala compiler."""
    dirs = [os.path.join(os.environ["SPARK_HOME"], "jars")] if os.environ.get("SPARK_HOME") else []
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        dirs += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    for d in dirs:
        if glob.glob(os.path.join(d, "spark-sql_*.jar")) and glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    raise SystemExit("perfbench: no Spark jars found (set SPARK_HOME)")


def sources():
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        raise SystemExit("perfbench: program sources not found under src/main/scala; "
                         "run from the root of a checkout of the repository")
    files = sorted(glob.glob(os.path.join(PROGRAM_SRC, "**", "*.scala"), recursive=True) +
                   glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"), recursive=True))
    return files


def build():
    files = sources()
    jars = spark_jars()
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, jars
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    compiler = [glob.glob(os.path.join(jars, f"scala-{p}-2.13*.jar"))[0]
                for p in ("compiler", "library", "reflect")]
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={OUT}", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath",
           ":".join(sorted(glob.glob(os.path.join(jars, "*.jar")))), "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compilation failed ({r.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, jars


if __name__ == "__main__":
    print(build()[0])
