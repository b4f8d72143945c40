#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(`src/main/scala`) together with the benchmark's own (`perfbench/src`)
into `.bench_build/classes-<hash>` of the checkout, with the Scala
compiler that ships among Spark's jars. The hash covers every source
file, so an unchanged tree is not rebuilt.

    python3 perfbench/build.py            # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the one build.sbt uses."""
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        raise SystemExit(f"perfbench: no Spark jars at {jars}")
    return jars


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"perfbench: missing source directory {os.path.relpath(d, ROOT)}")
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    """Returns the classes directory, compiling first when needed."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(ROOT, ".bench_build", "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".complete")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    os.remove(argfile)
    open(os.path.join(tmp, ".complete"), "w").close()
    # earlier builds of other source trees are stale
    build_dir = os.path.dirname(out)
    for d in os.listdir(build_dir):
        if d.startswith("classes-") and os.path.join(build_dir, d) not in (out, tmp):
            shutil.rmtree(os.path.join(build_dir, d), ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build())
