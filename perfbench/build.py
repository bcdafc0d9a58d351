"""Build file of the pipeline benchmark.

Compiles the engine's main sources (src/main/scala) together with the
benchmark's own driver (perfbench/scala) into one class directory, using
the Scala compiler that ships with Spark. A stamp over the sources, the
compiler and the Spark jars makes a rebuild happen only when one changes.

    python3 perfbench/build.py            # prints the classpath
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


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d, "perfbench")


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else build.sbt's
    `unmanagedBase`, which is where the engine's own build takes them."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            cands.append(m.group(1))
    for c in cands:
        if glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    raise SystemExit("perfbench: no Spark jars found (set SPARK_HOME)")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not main:
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def build():
    """Returns (whether it compiled, classpath), compiling only if anything
    changed."""
    jars = spark_jars()
    srcs = sources()
    stamp = hashlib.sha256()
    for p in srcs + [os.path.abspath(__file__)]:
        stamp.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            stamp.update(f.read())
    for j in sorted(os.listdir(jars)):
        stamp.update(j.encode())
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    classpath = classes + os.pathsep + os.path.join(jars, "*")
    digest = stamp.hexdigest()
    if os.path.exists(stamp_file) and open(stamp_file).read() == digest:
        return False, classpath
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit("perfbench: compile failed (exit %d)" % r.returncode)
    with open(stamp_file, "w") as f:
        f.write(digest)
    return True, classpath


if __name__ == "__main__":
    print(build()[1])
