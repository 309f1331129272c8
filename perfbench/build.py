"""Build file of the benchmark: compiles the engine (src/main/scala) and the
harness (perfbench/src) from source in one scalac pass, with the Scala
compiler and the Spark jars the engine's own build uses.

    python3 perfbench/build.py     # prints the run classpath

The output goes to .bench_build/perfbench/classes under the checkout and is
reused while no source file changed.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
OUT = os.path.join(REPO, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    """The jar directory: $SPARK_HOME/jars, else the engine build's
    `unmanagedBase`."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(REPO, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            cands.append(m.group(1))
    for c in cands:
        if glob.glob(os.path.join(c, "spark-core_*.jar")):
            return c
    raise BuildError("no Spark jar directory found (SPARK_HOME or build.sbt unmanagedBase)")


def sources():
    main = sorted(glob.glob(os.path.join(REPO, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not main:
        raise BuildError("engine sources src/main/scala not found")
    if not bench:
        raise BuildError("benchmark sources perfbench/src not found")
    return main + bench


def build(log=sys.stderr):
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, REPO).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "classes.stamp")
    cp = classes + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(OUT, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    compiler = [os.path.join(jars, n) for n in sorted(os.listdir(jars))
                if re.match(r"scala-(compiler|library|reflect)-2\.13.*\.jar$", n)]
    if len(compiler) != 3:
        raise BuildError("scala-compiler/library/reflect 2.13 not found in " + jars)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp:false",
           "-classpath", os.path.join(jars, "*"), "-d", classes, "@" + argfile]
    print("perfbench: compiling %d sources" % len(srcs), file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError("scalac failed with code %d" % r.returncode)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print("perfbench build: %s" % e, file=sys.stderr)
        sys.exit(2)
