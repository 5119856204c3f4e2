"""Build of the benchmark: compiles the engine (src/main/scala) together with
the benchmark's own sources (perfbench/src) into one class directory.

The compiler is the Scala 2.13 compiler that ships in the Spark distribution's
jar directory ($SPARK_HOME/jars, or the one of the spark-submit on PATH), so
the build needs neither sbt nor a network. Outputs go under .bench_build/ in the checkout
(or $CARGO_TARGET_DIR when it is set), keyed by a hash of every source file,
so an unchanged tree is compiled once.

Usage: python3 perfbench/build.py      (prints the class directory)
"""
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(BENCH_DIR, "src")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def spark_jars():
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        exe = os.path.join(d, "spark-submit")
        if os.path.isfile(exe):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(exe))))
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise SystemExit("perfbench build: no Spark distribution found; set SPARK_HOME")


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"perfbench build: engine sources {ENGINE_SRC} not found")
    out = []
    for top in (ENGINE_SRC, BENCH_SRC, ENGINE_RES):
        for dirpath, _, files in os.walk(top):
            out.extend(os.path.join(dirpath, f) for f in files)
    return sorted(out)


def build():
    """Compile if needed; return the class directory."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    classes = os.path.join(build_dir(), "perfbench", "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".complete")):
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    scala = [f for f in files if f.endswith(".scala")]
    argfile = os.path.join(classes, ".sources")
    with open(argfile, "w") as fh:
        fh.write("\n".join(scala))
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-deprecation:false", "-classpath", cp, "-d", classes,
           "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        raise SystemExit(f"perfbench build: scalac failed ({r.returncode})")
    if os.path.isdir(ENGINE_RES):
        shutil.copytree(ENGINE_RES, classes, dirs_exist_ok=True)
    open(os.path.join(classes, ".complete"), "w").close()
    return classes


if __name__ == "__main__":
    print(build())
