"""Build file of the benchmark: compiles graft's main sources and the
benchmark's own Scala sources with the Scala compiler that ships in the
Spark distribution's jars, into `.bench_build/` at the repository root.

Usage: python3 perfbench/build.py   (run.py calls `build()` itself)

No sbt and no dependency resolution: the classpath is the jars directory
of the Spark installation (`$SPARK_HOME`, or the one whose `spark-submit`
is on PATH). A build is reused while the sources and the jar list are
unchanged.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "graftbench")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""
    return os.path.join(home, "jars")


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def source_digest():
    """sha256 over graft's main sources and resources: identifies the code
    a result was measured on when the checkout carries no git metadata."""
    h = hashlib.sha256()
    for f in _sources(os.path.join(ROOT, "src", "main")) + sorted(
            glob.glob(os.path.join(ROOT, "src", "main", "resources", "**", "*"), recursive=True)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _scalac(classpath, out, srcs):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-classpath", classpath, "-d", out, "-nowarn",
           "-Ybackend-parallelism", "4"] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise RuntimeError("scalac failed")


def stamp():
    """Digest of the current build (sources and jar list)."""
    with open(os.path.join(OUT, "stamp")) as fh:
        return fh.read()


def build():
    """Compile if needed; return the run classpath."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main_src) or not os.path.isdir(spark_jars()):
        raise FileNotFoundError("graft sources (src/main/scala) or Spark jars not found")
    main_srcs, bench_srcs = _sources(main_src), _sources(os.path.join(HERE, "src"))
    jars = sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))
    h = hashlib.sha256()
    for f in main_srcs + bench_srcs:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(jars).encode())
    stamp = os.path.join(OUT, "stamp")
    main_cls, bench_cls = os.path.join(OUT, "main"), os.path.join(OUT, "bench")
    cp = [bench_cls, main_cls, os.path.join(ROOT, "src", "main", "resources")] + jars
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return cp
    shutil.rmtree(OUT, ignore_errors=True)
    _scalac(os.pathsep.join(jars), main_cls, main_srcs)
    _scalac(os.pathsep.join([main_cls] + jars), bench_cls, bench_srcs)
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return cp


if __name__ == "__main__":
    build()
    print("built into", OUT)
