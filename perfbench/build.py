"""Build step of the benchmark: compiles the engine (`src/main/scala`)
together with the benchmark's own Scala sources (`perfbench/src`) using the
Scala compiler that ships with Spark, into `.bench_build/classes-<hash>`.

The output directory is keyed by a hash of every source file, so a build
is reused until a source changes. Run directly to build only:

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


def spark_home():
    """$SPARK_HOME, else the first Spark distribution (bin/spark-submit
    beside jars/ with the Scala compiler) on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return home
    raise SystemExit("Spark not found: set SPARK_HOME")


SPARK_JARS = os.path.join(spark_home(), "jars")


def spark_jars():
    return sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))


def compiler_cp():
    want = ("scala-compiler-", "scala-library-", "scala-reflect-")
    cp = [j for j in spark_jars() if os.path.basename(j).startswith(want)]
    if len(cp) != 3:
        raise SystemExit(f"no Scala compiler jars under {SPARK_JARS}")
    return cp


def sources():
    def under(*parts):
        return sorted(glob.glob(os.path.join(ROOT, *parts, "**", "*.scala"), recursive=True))
    engine = under("src", "main", "scala")
    if not engine:
        raise SystemExit("no engine sources under src/main/scala: nothing to benchmark")
    return engine + under("perfbench", "src")


def build(log=sys.stderr):
    """Return the classes directory, compiling it first if needed."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    for j in compiler_cp():
        h.update(os.path.basename(j).encode())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(["-deprecation", "-nowarn", "-d", tmp, "-classpath", ":".join(spark_jars())] + srcs) + "\n")
    print(f"[perfbench] compiling {len(srcs)} Scala sources into {out}", file=log, flush=True)
    subprocess.run(["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", ":".join(compiler_cp()),
                    "scala.tools.nsc.Main", "-usejavacp", "@" + argfile],
                   check=True, stdout=log, stderr=log)
    open(os.path.join(tmp, ".complete"), "w").close()
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build())
