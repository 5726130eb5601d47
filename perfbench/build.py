"""Build of the benchmark: the engine's Scala sources (src/main/scala)
and the benchmark's own (perfbench/src/main/scala) compiled together
into .bench_build/perfbench/classes with the Scala compiler that ships
in the Spark distribution. Rebuilds only when a source changes.

    python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The jars of the Spark distribution: $SPARK_HOME, or the first
    distribution whose bin/spark-submit is on PATH."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        if os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise SystemExit("Spark jars not found; set SPARK_HOME")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise SystemExit("java not found; set JAVA_HOME")
    return exe


def sources():
    """Scala sources of the engine and of the benchmark, plus resources."""
    scala = os.path.join(ENGINE_SRC, "scala")
    if not os.path.isdir(scala):
        log(f"engine sources missing: {os.path.relpath(scala, ROOT)} is not in this checkout")
        sys.exit(2)
    found = []
    for base in (scala, BENCH_SRC):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    res = os.path.join(ENGINE_SRC, "resources")
    resources = [os.path.join(d, f) for d, _, fs in os.walk(res) for f in fs] \
        if os.path.isdir(res) else []
    return sorted(found), sorted(resources)


def build():
    """Compiles engine and benchmark into one class directory, once per
    source content (a stamp file holds the digest of every source)."""
    srcs, resources = sources()
    digest = hashlib.sha256()
    for p in srcs + resources:
        digest.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    classes = os.path.join(BUILD_DIR, "classes")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    jars = spark_jars()
    found = [f for f in os.listdir(jars) if f.startswith("scala-compiler-") and f.endswith(".jar")]
    if not found:
        raise SystemExit(f"no Scala compiler in {jars}")
    version = found[0][len("scala-compiler-"):-len(".jar")]
    compiler = [os.path.join(jars, f"scala-{m}-{version}.jar") for m in ("compiler", "library", "reflect")]
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(BUILD_DIR, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    log(f"compiling {len(srcs)} Scala sources")
    t0 = time.time()
    r = subprocess.run([java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", ":".join(compiler),
                        "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
                        "-d", tmp, "@" + args_file], stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"compilation failed (exit {r.returncode})")
    for p in resources:
        shutil.copy(p, tmp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"compiled in {time.time() - t0:.1f} s")
    return classes


if __name__ == "__main__":
    print(build())
