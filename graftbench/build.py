#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (``src/main/scala``)
and then the benchmark's own Scala sources (``graftbench/scala``) with
the Scala compiler that ships with Spark, into
``.bench_build/graftbench/{engine,bench}``. Each part is rebuilt only
when its sources changed since its last build.

    python3 graftbench/build.py          # from the repository root
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "graftbench")
PARTS = (("engine", os.path.join(ROOT, "src", "main", "scala")),
         ("bench", os.path.join(ROOT, "graftbench", "scala")))


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the
    ``unmanagedBase`` the project's build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("graftbench: cannot locate Spark's jars")
    return m.group(1)


def jars():
    return sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))


def classpath():
    return os.pathsep.join([os.path.join(OUT, n) for n, _ in PARTS] + jars())


def sources(d):
    out = []
    for dp, _, fs in os.walk(d):
        out += [os.path.join(dp, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def compile_part(name, src_dir, deps):
    srcs = sources(src_dir)
    if not srcs:
        raise SystemExit(f"graftbench: no Scala sources under {src_dir}")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    for d in deps:  # a rebuilt dependency rebuilds its dependents
        with open(d + ".stamp") as f:
            h.update(f.read().encode())
    dest = os.path.join(OUT, name)
    stamp = dest + ".stamp"
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    compiler = [glob.glob(os.path.join(spark_jars(), f"scala-{n}-2.13.*.jar"))
                for n in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise SystemExit("graftbench: no Scala 2.13 compiler next to Spark")
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp",
         os.pathsep.join(c[0] for c in compiler), "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", os.pathsep.join(deps + jars()),
         *srcs], stdout=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"graftbench: compiling {name} failed")
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)
    if os.path.exists(stamp):
        os.remove(stamp)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())


def build():
    os.makedirs(OUT, exist_ok=True)
    deps = []
    for name, src_dir in PARTS:
        compile_part(name, src_dir, deps)
        deps.append(os.path.join(OUT, name))


if __name__ == "__main__":
    build()
