#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources together
with perfbench/harness into .bench_build/classes, using the Scala
compiler that ships with the Spark jars ($SPARK_HOME/jars, else the
directory build.sbt names as unmanagedBase). The build is skipped while
the sources' content hash matches the stamp of the last one.

    python3 perfbench/build.py      # from the root of a graft checkout
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """The Spark jars graft builds against: $SPARK_HOME/jars, else the
    `unmanagedBase` directory that build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        die(f"no Spark jars under '{jars}'; set SPARK_HOME")
    return os.path.join(jars, "*")


def build(root, jars):
    """Compiles graft's main sources and the harness with scalac from the
    Spark distribution; skipped while their content hash is unchanged."""
    srcs = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    srcs += sorted(glob.glob(os.path.join(HERE, "harness/*.scala")))
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    out = os.path.join(root, ".bench_build", "classes")
    stamp_file = os.path.join(out, "STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    tmp = f"{out}.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars,
                        "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", jars] + srcs,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=880)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        print(r.stdout[-4000:], file=sys.stderr)
        die("compilation failed")
    with open(os.path.join(tmp, "STAMP"), "w") as f:
        f.write(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    print(f"perfbench: compiled {len(srcs)} files in {time.time() - t0:.1f} s", file=sys.stderr)
    return out


if __name__ == "__main__":
    print(build(os.getcwd(), spark_jars(os.getcwd())))
