#!/usr/bin/env python3
"""Build file of the benchmark: compiles the graft library (src/main/scala)
and the benchmark's own Scala sources (perfbench/src) in one scalac pass,
with the Scala compiler that ships in Spark's jars directory, into
.bench_build/classes. A source-content stamp skips unchanged rebuilds.

    python3 perfbench/build.py        # prints the run classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    homes = [os.environ.get("SPARK_HOME", "")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        jars = os.path.join(home, "jars") if home else ""
        if jars and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("build: no Spark jars directory with a Scala compiler "
                     "(set SPARK_HOME)")


def sources(root=ROOT):
    lib = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(os.path.join(lib, "graft")):
        raise SystemExit(f"build: no graft sources under {lib}")
    found = []
    for base in (lib, os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build(root=ROOT):
    """Compile when sources changed; return the classpath to run with."""
    jars = spark_jars()
    out = os.path.join(root, ".bench_build", "classes")
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(out, ".stamp")
    cp = f"{out}{os.pathsep}{os.path.join(jars, '*')}"
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return cp
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise SystemExit(f"build: scalac failed with exit code {r.returncode}")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return cp


if __name__ == "__main__":
    print(build())
