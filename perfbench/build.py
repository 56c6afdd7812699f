"""Build file of the benchmark: compiles the engine from source, then the
benchmark harness against it, with the Scala compiler that ships among the
Spark jars. No sbt, so nothing is read from or written to the user's sbt or
coursier caches.

Classes go to <out>/<hash>/{engine,harness}, where <hash> covers every
source file, so an edited checkout rebuilds and an unchanged one does not.

    python3 perfbench/build.py [out_dir]    # prints the class path
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def _spark_home():
    """$SPARK_HOME, or the installation whose spark-submit is on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    return home or ""


SPARK_JARS = os.path.join(_spark_home(), "jars")


class BuildError(Exception):
    pass


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _scalac(srcs, classpath, out, log):
    os.makedirs(out, exist_ok=True)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(SPARK_JARS, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", classpath, "@" + argfile]
    with open(log, "a") as lf:
        rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        raise BuildError(f"scalac failed (exit {rc}); see {log}")


def build(out_root):
    engine_src = os.path.join(ROOT, "src", "main", "scala")
    resources = os.path.join(ROOT, "src", "main", "resources")
    harness_src = os.path.join(BENCH, "src")
    if not os.path.isdir(engine_src) or not _sources(engine_src):
        raise BuildError(f"engine sources not found under {engine_src}")
    if not os.path.isdir(SPARK_JARS):
        raise BuildError(f"Spark jars not found at {SPARK_JARS}; set SPARK_HOME")
    engine, harness = _sources(engine_src), _sources(harness_src)
    res = sorted(p for p in glob.glob(os.path.join(resources, "**"), recursive=True)
                 if os.path.isfile(p))
    h = hashlib.sha256()
    for p in engine + harness + res + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(out_root, "classes", h.hexdigest()[:16])
    eng_out, har_out = os.path.join(out, "engine"), os.path.join(out, "harness")
    cp = os.pathsep.join([eng_out, har_out, os.path.join(SPARK_JARS, "*")])
    if os.path.exists(os.path.join(out, "_DONE")):
        return cp
    if os.path.exists(out):
        shutil.rmtree(out)
    log = os.path.join(out_root, "build.log")
    _scalac(engine, os.path.join(SPARK_JARS, "*"), eng_out, log)
    for p in res:
        dst = os.path.join(eng_out, os.path.relpath(p, resources))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    _scalac(harness, os.pathsep.join([eng_out, os.path.join(SPARK_JARS, "*")]), har_out, log)
    open(os.path.join(out, "_DONE"), "w").close()
    return cp


if __name__ == "__main__":
    try:
        print(build(sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build")))
    except BuildError as e:
        sys.exit(f"build: {e}")
