"""Build file of the graft benchmark.

Compiles graft's main sources and the benchmark's own sources with the
Scala compiler that ships inside the Spark distribution (no sbt, no
dependency resolution), into `<out>/graft` and `<out>/perfbench`.

    python3 perfbench/build.py            # builds into .bench_build/

A stamp over every input file skips the compile when nothing changed.
The Spark distribution is found through SPARK_HOME, else through the
`spark-submit` on PATH.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("no Spark distribution: set SPARK_HOME")
    return jars


def _sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def _scala_jar(jars, name):
    hits = sorted(glob.glob(os.path.join(jars, name + "-2.13.*.jar")))
    if not hits:
        raise BuildError(f"{name} 2.13 jar missing from {jars}")
    return hits[-1]


def _scalac(jars, classpath, dest, sources):
    compiler = os.pathsep.join(_scala_jar(jars, n) for n in
                               ("scala-compiler", "scala-library",
                                "scala-reflect"))
    os.makedirs(dest, exist_ok=True)
    # the source list goes through an @argfile: graft has ~60 files
    argfile = dest + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", compiler,
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath,
           "-d", dest, "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        raise BuildError("scalac failed:\n" + res.stdout[-4000:])


def build(out):
    """Compile if needed; return the runtime classpath."""
    graft = _sources(GRAFT_SRC)
    bench = _sources(BENCH_SRC)
    if not graft:
        raise BuildError(f"graft sources missing under {GRAFT_SRC}")
    if not bench:
        raise BuildError(f"benchmark sources missing under {BENCH_SRC}")
    jars = spark_jars()
    g_out = os.path.join(out, "graft")
    b_out = os.path.join(out, "perfbench")
    g_key = _digest([jars], graft + [os.path.abspath(__file__)])
    b_key = _digest([g_key], bench)
    _compile(g_out, g_key, os.path.join(jars, "*"), graft)
    _compile(b_out, b_key,
             os.pathsep.join([g_out, os.path.join(jars, "*")]), bench)
    return os.pathsep.join([b_out, g_out, os.path.join(jars, "*")])


def _digest(keys, files):
    h = hashlib.sha256("\0".join(keys).encode())
    for p in files:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _compile(dest, key, classpath, sources):
    """Compile `sources` into `dest` unless its stamp matches `key`."""
    stamp = dest + ".stamp"
    if os.path.exists(stamp) and open(stamp).read() == key:
        return
    for p in (dest, stamp):
        if os.path.isdir(p):
            shutil.rmtree(p)
        elif os.path.exists(p):
            os.remove(p)
    _scalac(spark_jars(), classpath, dest, sources)
    with open(stamp, "w") as f:
        f.write(key)


if __name__ == "__main__":
    try:
        print(build(os.path.join(ROOT, ".bench_build")))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
