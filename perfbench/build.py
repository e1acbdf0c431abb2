"""Build file of the benchmark: compiles the engine sources together with the
benchmark's own Scala sources into one class directory, with the Scala
compiler that ships in the Spark jar directory. The repository's build.sbt is
read (for that jar directory), never changed.

Usage: python3 perfbench/build.py   (run.py calls it before every run; it
recompiles only when a source file changed).
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")


def spark_jars():
    """The jar directory the repository's build uses (`unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise RuntimeError("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def sources():
    engine = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))
    if not engine:
        raise RuntimeError(f"no engine sources under {os.path.relpath(ENGINE_SRC, ROOT)}")
    return engine + bench


def build():
    """Compile if needed; returns the class-path for running the benchmark."""
    jars = spark_jars()
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise RuntimeError(f"no Scala compiler in {jars}")
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(build_dir(), "perfbench")
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "stamp")
    cp = f"{classes}:{jars}/*"
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return cp
    os.makedirs(classes, exist_ok=True)
    for old in glob.glob(os.path.join(classes, "**", "*.class"), recursive=True):
        os.remove(old)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", classes] + srcs
    # from the output directory: scalac also searches the working directory
    r = subprocess.run(cmd, capture_output=True, text=True, cwd=out)
    if r.returncode != 0:
        sys.stderr.write(r.stdout + r.stderr)
        raise RuntimeError("compilation failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return cp


if __name__ == "__main__":
    print(build())
