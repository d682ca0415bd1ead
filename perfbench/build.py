"""Build file of the benchmark package: compiles graft's sources
(src/main/scala) together with the benchmark harness (perfbench/src)
using the Scala compiler that ships in the Spark distribution's jars.

The output goes to $CARGO_TARGET_DIR/perfbench/classes (default
.bench_build), keyed by a hash of every source file, so only the first
run after a source change compiles.

    python3 perfbench/build.py        # build if needed, print the classes dir
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """The jars of the Spark distribution: $SPARK_HOME, else of a
    spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for p in os.environ.get("PATH", "").split(os.pathsep):
        if p and os.path.isfile(os.path.join(p, "spark-submit")):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(p, "spark-submit")))))
    for h in homes:
        d = os.path.join(h, "jars")
        if h and os.path.isdir(d) and any(f.startswith("scala-compiler") for f in os.listdir(d)):
            return d
    raise SystemExit("perfbench: no Spark distribution with a Scala compiler (set SPARK_HOME)")


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    if not os.path.isdir(roots[0]):
        raise SystemExit("perfbench: graft sources (src/main/scala) not found under " + ROOT)
    out = []
    for r in roots:
        for d, _, files in os.walk(r):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Return the classes directory, compiling first if any source changed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.sha256")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return classes
    os.makedirs(out, exist_ok=True)
    staging = classes + ".new"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", staging, "-classpath", cp, "@" + argfile]
    print("perfbench: compiling %d sources" % len(srcs), file=sys.stderr)
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return classes


if __name__ == "__main__":
    print(build())
