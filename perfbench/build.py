"""Build file of the benchmark package.

Compiles the engine's sources (src/main/scala) together with the
benchmark driver (perfbench/src) with the Scala compiler that ships among
Spark's jars (the ones the project's build.sbt compiles against), into
.bench_build/classes-<hash of the sources>. A build whose sources did not
change is reused.

Usage: python3 perfbench/build.py        (prints the classes directory)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the project's build.sbt names."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as fh:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        except OSError:
            m = None
        if not m:
            raise SystemExit("perfbench: set SPARK_HOME (no unmanagedBase in build.sbt)")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Spark jars with a Scala compiler in {jars}")
    return jars


def sources():
    srcs = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not srcs:
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    return srcs + sorted(glob.glob(os.path.join(ROOT, "perfbench/src/**/*.scala"), recursive=True))


def build():
    """Returns the classes directory, compiling first when needed."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "BUILT")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(spark_jars(), "*")
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
                    "scala.tools.nsc.Main", "-nowarn", "-classpath", cp, "-d", tmp,
                    "@" + argfile],
                   check=True, stdout=sys.stderr)
    open(os.path.join(tmp, "BUILT"), "w").close()
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build())
