"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark (perfbench/src) with the Scala compiler that ships with
Spark, into the build directory ($CARGO_TARGET_DIR, default .bench_build).
A build is skipped when its sources are unchanged.

    python3 perfbench/build.py            # build, print the classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    """The jars of the Spark installation: $SPARK_HOME, else the first
    whose bin/ on PATH holds spark-submit. They include the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return os.path.join(home, "jars")
    raise SystemExit("perfbench: no Spark installation with a Scala compiler "
                     "(set SPARK_HOME)")


def sources(d, ext=".scala"):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(ext)]
    return sorted(out)


def digest(files, extra):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_scala(name, srcs, classpath, out, extra=""):
    """scalac `srcs` into `out` unless the stamp says they are unchanged."""
    if not srcs:
        raise SystemExit(f"perfbench: no {name} sources to build")
    stamp = out + ".stamp"
    want = digest(srcs, classpath + extra)
    if os.path.isfile(stamp) and open(stamp).read() == want:
        return
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xmx3g", "-Xss16m", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", classpath, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: {name} build failed")
    with open(stamp, "w") as fh:
        fh.write(want)


def build(program_classes=None):
    """Build what is missing; returns the run classpath. `program_classes`
    replaces the program build with an already compiled class dir."""
    bd = build_dir()
    jars = os.path.join(spark_jars(), "*")
    if program_classes is None:
        program_classes = os.path.join(bd, "program")
        compile_scala("program", sources(os.path.join(ROOT, "src", "main", "scala")),
                      jars, program_classes)
    resources = os.path.join(ROOT, "src", "main", "resources")
    bench = os.path.join(bd, "bench-" + hashlib.sha256(
        os.path.abspath(program_classes).encode()).hexdigest()[:12])
    # the benchmark is rebuilt whenever the program it links against is
    program_stamp = program_classes + ".stamp"
    linked = open(program_stamp).read() if os.path.isfile(program_stamp) else ""
    compile_scala("benchmark", sources(os.path.join(BENCH_DIR, "src")),
                  jars + os.pathsep + program_classes, bench, linked)
    return os.pathsep.join([jars, program_classes, resources, bench])


if __name__ == "__main__":
    print(build())
