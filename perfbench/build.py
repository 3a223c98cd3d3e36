#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's JVM side (perfbench/scala) with the Scala compiler that
ships among Spark's jars, into .bench_build/ at the root of the checkout.

A build is keyed by a hash of every source file, so an unchanged tree is
built once. Usage: python3 perfbench/build.py  (prints the classes dir)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the unmanagedBase build.sbt declares."""
    dirs = []
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            dirs.append(m.group(1))
    for jars in dirs:
        if glob.glob(os.path.join(jars, "spark-sql_*.jar")):
            return jars
    sys.exit("build: no Spark jars found (set SPARK_HOME)")


def sources():
    src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(src):
        sys.exit(f"build: the program's sources are missing ({src})")
    files = []
    for base in (src, os.path.join(HERE, "scala")):
        files += sorted(glob.glob(os.path.join(base, "**", "*.scala"), recursive=True))
    return files


def build():
    """Returns the classes directory, compiling first if the sources changed."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    os.makedirs(BUILD, exist_ok=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    scala = [glob.glob(os.path.join(jars, f"scala-{p}-2.13*.jar"))[0]
             for p in ("compiler", "library", "reflect")]
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={BUILD}", "-cp", os.pathsep.join(scala),
           "scala.tools.nsc.Main", "-nowarn", "-classpath",
           os.path.join(jars, "*"), "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit(f"build: scalac failed with code {r.returncode}")
    os.rename(tmp, out)
    open(os.path.join(out, ".ok"), "w").close()
    return out


if __name__ == "__main__":
    print(build())
