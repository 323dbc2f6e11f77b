"""Build file of the benchmark: compiles graft's main sources together with
the runner under perfbench/src with the Scala compiler that ships in
Spark's jars directory. No build tool and no dependency resolution: the
classes land in perfbench/.build/<source digest>/ and are reused while the
sources stay the same.

    python3 perfbench/build.py      # prints the runtime classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)


def spark_jars():
    """$SPARK_HOME/jars, else the jars directory of the first Spark
    distribution whose bin/spark-submit is on PATH."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise SystemExit("build: no Spark jars; set SPARK_HOME to a Spark 4.1 distribution")


def sources():
    roots = [os.path.join(REPO, "src", "main"), os.path.join(BENCH, "src")]
    out = []
    for root in roots:
        if not os.path.isdir(root):
            raise SystemExit(f"build: missing source directory {root}")
        for d, _, files in os.walk(root):
            out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def classpath(classes):
    return os.pathsep.join([classes, os.path.join(REPO, "src", "main", "resources"),
                            os.path.join(spark_jars(), "*")])


def build():
    """Compiles when the sources changed; returns the runtime classpath."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, REPO).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    root = os.path.join(BENCH, ".build")
    dst = os.path.join(root, h.hexdigest()[:16])
    if os.path.exists(os.path.join(dst, "ok")):
        return classpath(dst)
    if os.path.isdir(root):
        shutil.rmtree(root)
    os.makedirs(dst)
    argfile = os.path.join(root, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", dst, "-classpath", jars, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    open(os.path.join(dst, "ok"), "w").close()
    return classpath(dst)


if __name__ == "__main__":
    print(build())
