"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark client (perfbench/src) with the Scala compiler that ships in the
Spark distribution's jars directory. No sbt and no build.sbt edits.

    python3 perfbench/build.py [build dir]

Outputs go under <build dir>/perfbench (default: $CARGO_TARGET_DIR or
.bench_build). A compile is skipped when its sources are unchanged.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class BuildError(Exception):
    pass


def spark_jars():
    """$SPARK_HOME/jars, or the jars beside a spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "spark-sql_*.jar")):
            return os.path.join(home, "jars")
    raise BuildError("no Spark jars found (set SPARK_HOME)")


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build", "perfbench")


def sources(rel):
    return sorted(glob.glob(os.path.join(ROOT, rel, "**", "*.scala"), recursive=True))


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def jvm_base(out):
    """JVM flags that keep temp files and perf data inside the build dir."""
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return ["java", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp]


def scalac(out, name, srcs, classpath, stamp):
    dest = os.path.join(out, name)
    stamp_file = dest + ".stamp"
    if os.path.isdir(dest) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return dest
    jars = spark_jars()
    compiler = [glob.glob(os.path.join(jars, p))
                for p in ("scala-compiler-*.jar", "scala-library-*.jar", "scala-reflect-*.jar")]
    if not all(compiler):
        raise BuildError("scala compiler jars missing from " + jars)
    staging = dest + ".new"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    argfile = dest + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = jvm_base(out) + ["-Xss8m", "-Xmx2g", "-cp", ":".join(c[0] for c in compiler),
                           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", staging,
                           "-classpath", ":".join(classpath), "@" + argfile]
    print("[perfbench] compiling %s (%d files)" % (name, len(srcs)), file=sys.stderr)
    if subprocess.call(cmd, stdout=sys.stderr) != 0:
        raise BuildError("compile of %s failed" % name)
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(staging, dest)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return dest


def build():
    """Compile what changed; return the runtime classpath."""
    engine_srcs, bench_srcs = sources("src/main/scala"), sources("perfbench/src")
    if not engine_srcs:
        raise BuildError("no engine sources under src/main/scala")
    if not bench_srcs:
        raise BuildError("no benchmark sources under perfbench/src")
    out = build_dir()
    os.makedirs(out, exist_ok=True)
    jars = os.path.join(spark_jars(), "*")
    engine_stamp = digest(engine_srcs)
    engine = scalac(out, "engine-classes", engine_srcs, [jars], engine_stamp)
    bench = scalac(out, "bench-classes", bench_srcs, [engine, jars],
                   digest(bench_srcs, engine_stamp))
    return [bench, engine, jars]


if __name__ == "__main__":
    if len(sys.argv) > 1:
        os.environ["CARGO_TARGET_DIR"] = sys.argv[1]
    try:
        print(":".join(build()))
    except BuildError as e:
        print("[perfbench] build failed: %s" % e, file=sys.stderr)
        sys.exit(1)
