"""Build file of the benchmark: compiles the program and the harness.

The program (``src/main/scala``) and the harness (``perfbench/harness``)
are compiled with the Scala compiler that ships in Spark's jar directory,
against the same jars, into ``.bench_build/classes``. A stamp over every
source file skips the build when nothing changed.

    python3 perfbench/build.py        # build (or confirm) and print the dir
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
SCALA = "2.13.17"


def spark_jars(root):
    """Spark's jar directory: $SPARK_HOME/jars, else the unmanagedBase the
    repo's build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(root, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise FileNotFoundError("set SPARK_HOME: build.sbt names no jar dir")
    return m.group(1)


def sources(root):
    out = []
    for top in ("src/main/scala", "perfbench/harness"):
        for d, _, files in os.walk(os.path.join(root, top)):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def _scalac(jars, classpath, dest, files):
    compiler = [os.path.join(jars, f"scala-{m}-{SCALA}.jar")
                for m in ("compiler", "library", "reflect")]
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath,
           "-d", dest] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise RuntimeError(f"scalac failed with code {r.returncode}")


def build(root):
    """Compile when the sources changed; return the classes directory."""
    files = sources(root)
    if not any(f.startswith(os.path.join(root, "src/main/scala")) for f in files):
        raise FileNotFoundError("no program sources under src/main/scala")
    jars = spark_jars(root)
    h = hashlib.sha256(SCALA.encode())
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    out = os.path.join(root, BUILD_DIR, "classes")
    stamp_file = os.path.join(root, BUILD_DIR, "classes.stamp")
    if os.path.isdir(out) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    harness = [f for f in files if "/perfbench/harness/" in f]
    program = [f for f in files if f not in harness]
    libs = os.path.join(jars, "*")
    _scalac(jars, libs, tmp, program)
    _scalac(jars, tmp + os.pathsep + libs, tmp, harness)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return out


if __name__ == "__main__":
    print(build(os.getcwd()))
