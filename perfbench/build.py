"""Build file of the benchmark: compiles the program's sources together with
the benchmark's own Scala into one class dir, offline, with the Scala
compiler that ships in Spark's jar dir. Nothing here touches the program's
sbt build.

The class dir is rebuilt only when a source changes (a digest of every
source file is kept beside it).
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")


def spark_jars():
    return os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def _sources():
    found = []
    for base in (PROGRAM_SRC, BENCH_SRC):
        found += sorted(glob.glob(os.path.join(base, "**", "*.scala"), recursive=True))
    return found


def _digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_built(build_dir):
    """Return the class dir, compiling first if any source changed."""
    if not os.path.isdir(PROGRAM_SRC):
        raise SystemExit(f"program sources not found under {PROGRAM_SRC}")
    os.makedirs(build_dir, exist_ok=True)
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(build_dir, "classes.digest")
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        srcs = _sources()
        resources = sorted(p for p in glob.glob(os.path.join(PROGRAM_RES, "**", "*"),
                                                recursive=True) if os.path.isfile(p))
        digest = _digest(srcs + resources)
        if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(classes):
            return classes
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(build_dir, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        cp = os.path.join(spark_jars(), "*")
        cmd = [java(), "-Xmx2g", "-Xss16m", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
        log = os.path.join(build_dir, "build.log")
        with open(log, "w") as out:
            rc = subprocess.call(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=build_dir)
        if rc != 0:
            sys.stderr.write(open(log).read()[-4000:])
            raise SystemExit(f"compile failed (exit {rc}); see {log}")
        for r in resources:
            dst = os.path.join(tmp, os.path.relpath(r, PROGRAM_RES))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(r, dst)
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        with open(stamp, "w") as f:
            f.write(digest)
        return classes


if __name__ == "__main__":
    print(ensure_built(os.path.join(ROOT, ".bench_build")))
