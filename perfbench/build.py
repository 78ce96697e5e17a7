"""Build file of the benchmark: compiles graft's library sources and the
benchmark's own Scala sources with the Scala compiler that ships in Spark's
jar directory, so no build tool and no network are needed.

Outputs go to `.bench_build/perfbench/` under the directory the benchmark is
run from (the repository root). Each of the two compiled trees (library,
benchmark) is reused while a hash over its sources, the compiler jar and,
for the benchmark, the library is unchanged.

    python3 perfbench/build.py          # build (or confirm it is current)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
LIB_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join(BENCH_DIR, "src")
OUT = os.path.join(".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return jars


def _sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def _compiler_cp(jars):
    want = ("scala-compiler_", "scala-compiler-", "scala-library-", "scala-reflect-")
    cp = [j for j in jars if os.path.basename(j).startswith(want)]
    if not any("scala-compiler" in os.path.basename(j) for j in cp):
        raise BuildError("scala-compiler jar not found among Spark's jars")
    return cp


def _scalac(jars, classpath, out_jar, sources):
    if os.path.exists(out_jar):
        os.remove(out_jar)
    argfile = out_jar + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(_compiler_cp(jars)),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(classpath),
           "-d", out_jar, "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        raise BuildError("scalac failed for %s:\n%s" % (out_jar, res.stdout[-4000:]))


def _digest(paths, seed=""):
    h = hashlib.sha256(seed.encode())
    for path in paths:
        h.update(path.encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def _compile_if_changed(stamp, out_jar, jars, classpath, sources):
    stamp_file = out_jar + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    _scalac(jars, classpath, out_jar, sources)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def build():
    """Compile what changed; return (runtime classpath, source tree hash).
    The library is recompiled only when its sources change."""
    lib_sources = _sources(LIB_SRC)
    if not lib_sources:
        raise BuildError("library sources not found under %s" % LIB_SRC)
    bench_sources = _sources(BENCH_SRC)
    jars = spark_jars()
    lib_stamp = _digest(_compiler_cp(jars) + lib_sources)
    bench_stamp = _digest(bench_sources, lib_stamp)
    lib_out = os.path.join(OUT, "graft-lib.jar")
    bench_out = os.path.join(OUT, "graftbench.jar")
    os.makedirs(OUT, exist_ok=True)
    _compile_if_changed(lib_stamp, lib_out, jars, jars, lib_sources)
    _compile_if_changed(bench_stamp, bench_out, jars, [lib_out] + jars, bench_sources)
    return [bench_out, lib_out] + jars, bench_stamp


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
