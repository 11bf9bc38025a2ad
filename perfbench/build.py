"""Builds graft and the benchmark runner from source with scalac.

graft's sources (`src/main/scala`, `src/main/resources`) and the runner's
(`perfbench/scala`) compile in one scalac run against Spark's jars, the
same jars graft's own build uses (`$SPARK_HOME/jars`). The output goes to
`.bench_build/classes/<hash of every source>`, so a checkout builds once
and a changed source builds afresh.
"""

import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"),
           os.path.join(HERE, "scala")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        raise SystemExit("perfbench: no Spark jars; set SPARK_HOME")
    return jars


def sources():
    out = []
    for d in SOURCES:
        if not os.path.isdir(d):
            raise SystemExit(f"perfbench: missing source directory {d}")
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files
                    if f.endswith(".scala")]
    return sorted(out)


def build():
    """Returns the classpath of the built benchmark, building if needed."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD, "classes", h.hexdigest()[:16])
    cp = os.pathsep.join([out, RESOURCES, os.path.join(jars, "*")])
    if os.path.exists(os.path.join(out, ".done")):
        return cp
    shutil.rmtree(os.path.join(BUILD, "classes"), ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-nowarn", "-d", out,
         "-cp", os.path.join(jars, "*"), "@" + argfile],
        check=True, stdout=sys.stderr)
    open(os.path.join(out, ".done"), "w").close()
    return cp


if __name__ == "__main__":
    print(build())
