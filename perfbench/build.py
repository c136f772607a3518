"""Build file of the benchmark: compiles the engine (the repository's
src/main/scala) and the benchmark (perfbench/src/main/scala, plus its unit
checks in perfbench/src/test/scala for the tests) with the Scala compiler
that ships in the Spark distribution, into perfbench/.build.

Each class tree is rebuilt only when a hash of its sources (and of the
Spark jar list) changes. Run it directly to build:

    python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(REPO, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
TEST_SRC = os.path.join(HERE, "src", "test", "scala")
BUILD = os.path.join(HERE, ".build")
SCALA_JARS = ("scala-compiler", "scala-library", "scala-reflect")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, or the one
    next to the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("no Spark distribution found: set SPARK_HOME")
    return jars


def java():
    jh = os.environ.get("JAVA_HOME")
    exe = os.path.join(jh, "bin", "java") if jh else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java found: set JAVA_HOME or put java on PATH")
    return exe


def sources(root):
    if not os.path.isdir(root):
        raise BuildError(f"missing sources: {root}")
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    if not out:
        raise BuildError(f"no Scala sources under {root}")
    return sorted(out)


def digest(files, extra):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_tree(name, files, classpath, jars):
    """Compile `files` into .build/<name> unless its stamp matches."""
    out = os.path.join(BUILD, name)
    stamp = os.path.join(BUILD, name + ".stamp")
    key = digest(files, classpath + "|" + ",".join(sorted(os.listdir(jars))))
    if os.path.isdir(out) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == key:
                return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = os.pathsep.join(
        os.path.join(jars, j) for j in sorted(os.listdir(jars))
        if j.startswith(SCALA_JARS) and j.endswith(".jar"))
    cmd = [java(), "-Xmx2g", "-Xss8m", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-cp", classpath, "-d", tmp] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"compiling {name} failed:\n{r.stdout[-4000:]}")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp, "w") as fh:
        fh.write(key)
    return out


def build(with_tests=False):
    """Build the engine and the benchmark (and, on request, the benchmark's
    unit checks); returns the runtime classpath."""
    jars = spark_jars()
    engine_files = sources(ENGINE_SRC)
    bench_files = sources(BENCH_SRC)
    os.makedirs(BUILD, exist_ok=True)
    cp = [os.path.join(jars, "*")]
    cp.insert(0, compile_tree("engine", engine_files, os.pathsep.join(cp), jars))
    cp.insert(0, compile_tree("bench", bench_files, os.pathsep.join(cp), jars))
    if with_tests:
        cp.insert(0, compile_tree("tests", sources(TEST_SRC), os.pathsep.join(cp), jars))
    return os.pathsep.join(cp)


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
