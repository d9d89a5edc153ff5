"""Build file of the benchmark: compiles the engine (src/main/scala) and the
harness (layerbench/src) into one class directory with the Scala compiler
that ships in the Spark distribution. Rebuilds only when a source changed.

    python3 layerbench/build.py          # from the repository root
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root):
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    dirs = []
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            dirs += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    for d in dirs:
        if glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    sys.exit("layerbench: no Spark jars with a Scala compiler (set SPARK_HOME)")


def sources(root):
    engine = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(engine):
        sys.exit(f"layerbench: no engine sources at {engine}; run from the "
                 "repository root")
    found = []
    for base in (engine, os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build_root(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def ensure(root):
    """Return the class directory, compiling first if any source changed."""
    srcs = sources(root)
    jars = spark_jars(root)
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(build_root(root), "layerbench")
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "stamp")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
            return classes, jars
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        argfile = os.path.join(out, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs))
        tmp = os.path.join(out, "tmp")
        os.makedirs(tmp, exist_ok=True)
        cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={tmp}", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
               "-usejavacp", "-nowarn", "-d", classes, "@" + argfile]
        print("layerbench: compiling", len(srcs), "sources", file=sys.stderr)
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-20000:])
            sys.exit("layerbench: compile failed")
        with open(stamp, "w") as f:
            f.write(h.hexdigest())
    return classes, jars


if __name__ == "__main__":
    print(ensure(os.getcwd())[0])
