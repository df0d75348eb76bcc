"""Compile the library (src/main/scala) and the benchmark (kvbench/src)
into one class directory with the Scala compiler that ships with Spark.

    python3 kvbench/build.py            # from the repository root

The output goes to .bench_build/kvbench/classes and is reused while no
source file changes (a hash of every source is kept next to it).
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build", "kvbench")
CLASSES = os.path.join(OUT, "classes")


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the one
    next to spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if os.path.isdir(jars) and any(n.startswith("spark-core_") for n in os.listdir(jars)):
            return jars
    sys.exit("kvbench: no Spark distribution found (set SPARK_HOME)")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        sys.exit("kvbench: no java found (set JAVA_HOME)")
    return exe


def sources():
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(ROOT, "kvbench", "src")]
    for d in dirs:
        if not os.path.isdir(d):
            sys.exit(f"kvbench: missing source directory {os.path.relpath(d, ROOT)}")
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Return the class directory, compiling first if any source changed."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(OUT, "stamp")
        if os.path.isdir(CLASSES) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return CLASSES
        tmp = CLASSES + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        args_file = os.path.join(OUT, "sources.txt")
        with open(args_file, "w") as f:
            f.write("\n".join(srcs))
        cmd = [java(), "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
               "-cp", os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main",
               "-nowarn", "-usejavacp", "-d", tmp, "@" + args_file]
        print("[kvbench] compiling", len(srcs), "sources", file=sys.stderr, flush=True)
        if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
            sys.exit("kvbench: compilation failed")
        shutil.rmtree(CLASSES, ignore_errors=True)
        os.rename(tmp, CLASSES)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return CLASSES


if __name__ == "__main__":
    print(build())
