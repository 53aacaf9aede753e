"""Build file of the benchmark: compiles the engine (`src/main/scala`)
and the harness (`perfbench/src`) with the Scala compiler that ships in
Spark's jars directory, into the build directory. A stamp over every
source file makes later runs skip an up-to-date build.
"""
import glob
import hashlib
import os
import shutil
import subprocess

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars() -> str:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise RuntimeError("Spark not found: set SPARK_HOME")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise RuntimeError(f"no Scala compiler in {jars}")
    return jars


def _sources(d: str) -> list:
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _stamp(files) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _compile(srcs, out: str, classpath: str) -> None:
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", classpath, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", classpath] + srcs
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        raise RuntimeError("compile failed:\n" + r.stdout[-4000:] + r.stderr[-4000:])
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def build(build_dir: str) -> str:
    """Compile what is out of date; return the harness classpath."""
    jars = os.path.join(spark_jars(), "*")
    engine_src = _sources(os.path.join(ROOT, "src", "main", "scala"))
    if not engine_src:
        raise RuntimeError("no engine sources under src/main/scala")
    harness_src = _sources(os.path.join(HERE, "src"))
    engine = os.path.join(build_dir, "engine-classes")
    harness = os.path.join(build_dir, "harness-classes")
    stamp_file = os.path.join(build_dir, "build.stamp")
    stamp = _stamp(engine_src + harness_src)
    if not (os.path.isfile(stamp_file) and open(stamp_file).read() == stamp):
        os.makedirs(build_dir, exist_ok=True)
        shutil.rmtree(os.path.join(build_dir, "oracle"), ignore_errors=True)  # engine's dump
        _compile(engine_src, engine, jars)
        _compile(harness_src, harness, os.pathsep.join([engine, jars]))
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return os.pathsep.join([harness, engine, jars])


if __name__ == "__main__":
    import sys
    d = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    print(build(d))
    sys.exit(0)
