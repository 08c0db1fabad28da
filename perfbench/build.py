"""Build file of the benchmark: compiles the engine's main sources and the
harness in `perfbench/src` with the Scala compiler that ships in the Spark
distribution, into the build directory. Nothing else is read or written.

    python3 perfbench/build.py        # prints the harness classpath

The build is skipped when the sources are unchanged since the last one.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def spark_jars():
    """The Spark distribution's jars, under $SPARK_HOME or else /opt/spark."""
    d = os.path.join(os.environ.get("SPARK_HOME") or "/opt/spark", "jars")
    if not glob.glob(os.path.join(d, "spark-core_*.jar")):
        sys.exit(f"build: no Spark jars under {d}; set SPARK_HOME")
    return d


def sources(d):
    found = sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    if not found:
        sys.exit(f"build: no Scala sources under {d}")
    return found


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def scalac(jars, classpath, out, files):
    compiler = [glob.glob(os.path.join(jars, f"scala-{n}-2.13.*.jar"))
                for n in ("compiler", "library", "reflect")]
    if not all(compiler):
        sys.exit(f"build: no Scala 2.13 compiler in {jars}")
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit(f"build: scalac failed for {out}")


def compile_once(out, key, compile_):
    """Runs `compile_` into `out` unless `out` was built from the same `key`."""
    stamp = out + ".stamp"
    if os.path.exists(stamp) and open(stamp).read() == key:
        return
    if os.path.exists(stamp):
        os.remove(stamp)
    shutil.rmtree(out, ignore_errors=True)
    compile_()
    with open(stamp, "w") as fh:
        fh.write(key)


def build():
    """Compiles what changed and returns the harness classpath."""
    jars = spark_jars()
    out = build_dir()
    engine_out = os.path.join(out, "engine-classes")
    bench_out = os.path.join(out, "bench-classes")
    engine_files, bench_files = sources(ENGINE_SRC), sources(BENCH_SRC)
    engine_key = digest(engine_files)
    compile_once(engine_out, engine_key, lambda: scalac(
        jars, os.path.join(jars, "*"), engine_out, engine_files))
    compile_once(bench_out, engine_key + digest(bench_files), lambda: scalac(
        jars, engine_out + ":" + os.path.join(jars, "*"), bench_out, bench_files))
    return ":".join([bench_out, engine_out, ENGINE_RES, os.path.join(jars, "*")])


if __name__ == "__main__":
    print(build())
