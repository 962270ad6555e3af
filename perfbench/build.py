"""Build file for the benchmark: compiles the library (src/main/scala)
and the harness (perfbench/src) with the Scala compiler that ships in
the Spark distribution, against the same Spark jars the library builds
against. Outputs are cached under perfbench/.work/build by a hash of
the sources, so only a source change recompiles.

    python3 perfbench/build.py        # prints the harness classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def _sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"),
                            recursive=True))


def _digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _compile(files, classpath, out):
    if os.path.isdir(out):
        return
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jvm_tmp = os.path.join(WORK, "tmp")
    os.makedirs(jvm_tmp, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-Djava.io.tmpdir=" + jvm_tmp,
           "-cp", SPARK_JARS + "/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", classpath] + files
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    os.rename(tmp, out)


def build():
    """Compile what changed; return the classpath the harness runs on."""
    lib_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(lib_src):
        raise SystemExit(f"library sources not found at {lib_src}")
    if not glob.glob(os.path.join(SPARK_JARS, "spark-core_*.jar")):
        raise SystemExit(f"Spark jars not found at {SPARK_JARS}")
    lib_files = _sources(lib_src)
    bench_files = _sources(os.path.join(BENCH, "src"))
    lib_out = os.path.join(WORK, "build", "lib-" + _digest(lib_files))
    bench_out = os.path.join(
        WORK, "build", "bench-" + _digest(lib_files + bench_files))
    jars = SPARK_JARS + "/*"
    _compile(lib_files, jars, lib_out)
    _compile(bench_files, lib_out + os.pathsep + jars, bench_out)
    return os.pathsep.join([bench_out, lib_out, jars])


if __name__ == "__main__":
    print(build())
