"""Build file of the benchmark harness.

Compiles the harness (``perfbench/scala``) together with the library
sources (``src/main/scala``) with the Scala compiler that ships among the
Spark jars (``$SPARK_HOME/jars``), into ``.bench_build/classes``.  A
stamp of every source file's path and bytes skips the compile when
nothing changed.

    python3 perfbench/build.py          # build (or confirm up to date)
"""

import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


def classpath():
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise SystemExit("SPARK_HOME is not set: the build needs the Spark distribution's jars")
    return os.path.join(home, "jars", "*")


def sources():
    dirs = [os.path.join(HERE, "scala"), os.path.join(ROOT, "src", "main", "scala")]
    out = []
    for d in dirs:
        if not os.path.isdir(d):
            raise SystemExit("missing source directory %s" % os.path.relpath(d, ROOT))
        for base, _, files in os.walk(d):
            out.extend(os.path.join(base, f) for f in files if f.endswith(".scala"))
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(log=sys.stderr):
    """Returns the classes directory, compiling first when stale."""
    files = sources()
    want = stamp(files)
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                return classes
    os.makedirs(BUILD, exist_ok=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(BUILD, "scalac.args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files) + "\n")
    print("[build] compiling %d Scala files" % len(files), file=log)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", classpath(),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath(),
           "-d", tmp, "@" + args_file]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if proc.returncode != 0:
        log.write(proc.stdout.decode(errors="replace")[-4000:])
        raise SystemExit("compile failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(want + "\n")
    return classes


if __name__ == "__main__":
    print(build())
