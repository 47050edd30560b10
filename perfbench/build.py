"""Build the library under test and the benchmark harness from source.

Compiles `src/main/scala` (the library, as it is in the working tree) and
`perfbench/scala` (the harness) with the Scala compiler that ships in the
Spark distribution's jars, into a directory named after a hash of every
source file. A later run with the same sources reuses it.

Usage: python3 perfbench/build.py   (prints the classes directory)
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time


def spark_jars():
    """The Spark distribution's jars: `$SPARK_HOME/jars`, else the ones
    beside the `spark-submit` on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("perfbench: no Spark distribution with a Scala compiler "
                         "(set SPARK_HOME or put spark-submit on the PATH)")
    return jars


def build_root():
    return os.path.join(os.environ.get("CARGO_TARGET_DIR") or ".bench_build", "perfbench")


def sources(repo):
    lib = sorted(glob.glob(os.path.join(repo, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not lib:
        raise SystemExit("perfbench: no library sources under src/main/scala")
    harness = sorted(glob.glob(os.path.join(repo, "perfbench", "scala", "*.scala")))
    if not harness:
        raise SystemExit("perfbench: no harness sources under perfbench/scala")
    return lib + harness


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def ensure_built(repo="."):
    files = sources(repo)
    key = source_hash(files)
    root = build_root()
    out = os.path.join(root, f"classes-{key}")
    if os.path.exists(os.path.join(out, ".done")):
        return out, key
    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(out, ".done")):
            return out, key
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        cp = os.path.join(spark_jars(), "*")
        t0 = time.time()
        # The compiler reads its source list from a file: the command line
        # would otherwise carry every path.
        argfile = os.path.join(root, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(files))
        proc = subprocess.run(
            ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp,
             "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-cp", cp, "@" + argfile],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if proc.returncode != 0:
            sys.stderr.write(proc.stdout[-4000:])
            raise SystemExit("perfbench: build failed")
        open(os.path.join(tmp, ".done"), "w").write(f"{time.time() - t0:.1f}\n")
        os.rename(tmp, out)
        # Keep only this build: stale class trees are not reused.
        for old in glob.glob(os.path.join(root, "classes-*")):
            if old != out:
                shutil.rmtree(old, ignore_errors=True)
    return out, key


if __name__ == "__main__":
    print(ensure_built()[0])
