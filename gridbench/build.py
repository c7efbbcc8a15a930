"""Builds the benchmark: compiles the repository's main Scala sources
together with the benchmark's own (gridbench/src) into
gridbench/build/classes, using the Scala compiler that ships among the
Spark jars the repository's build.sbt compiles against (its
`unmanagedBase`; $SPARK_HOME/jars when build.sbt names none). A stamp of
the sources' digest skips the compile when nothing changed.

Usage, from the repository root:  python3 gridbench/build.py
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
OUT = os.path.join(HERE, "build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "sources.sha256")


class BuildError(Exception):
    pass


def spark_jars():
    sbt = os.path.join(ROOT, "build.sbt")
    base = None
    if os.path.isfile(sbt):
        with open(sbt) as fh:
            base = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if base:
        jars = base.group(1)
    elif "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        raise BuildError("build.sbt names no unmanagedBase and SPARK_HOME is unset")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler among the Spark jars in {jars}")
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError(f"repository sources not found at {main}")
    files = []
    for top in (main, os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compiles if needed; returns the classpath to run the benchmark."""
    jars = spark_jars()
    files = sources()
    stamp = digest(files)
    cp = f"{CLASSES}{os.pathsep}{os.path.join(jars, '*')}"
    if os.path.isfile(STAMP) and open(STAMP).read() == stamp:
        return cp
    shutil.rmtree(OUT, ignore_errors=True)
    staging = CLASSES + ".tmp"
    os.makedirs(staging)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", staging,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    print(f"gridbench: compiling {len(files)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        raise BuildError("compile failed:\n" + r.stdout[-4000:])
    os.rename(staging, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return cp


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"gridbench: {e}", file=sys.stderr)
        sys.exit(2)
