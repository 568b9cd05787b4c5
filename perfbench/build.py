"""Build file of the benchmark: compiles the engine and the benchmark sources.

The engine sources (src/main/scala) and the benchmark sources
(perfbench/src) are compiled together into one classes directory with the
Scala compiler that ships in Spark's jars directory ($SPARK_HOME/jars, or
the installation spark-submit on PATH belongs to), so the build needs
neither sbt nor a network and writes only under the build directory. A stamp over every source file's path
and content makes a rebuild happen only when a source changed.

Usage: python3 perfbench/build.py [build_dir]
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
SOURCE_DIRS = ("src/main/scala", "perfbench/src")


def spark_jars():
    """Jars directory of $SPARK_HOME, else of the first spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        (pathlib.Path(d) / "spark-submit").resolve().parent.parent
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and (pathlib.Path(d) / "spark-submit").is_file()]
    for home in filter(None, homes):
        jars = pathlib.Path(home) / "jars"
        if any(jars.glob("scala-compiler-*.jar")):
            return jars
    raise RuntimeError("no Spark jars directory with a Scala compiler; set SPARK_HOME")


def build_dir():
    """$CARGO_TARGET_DIR (relative paths are taken from the checkout root) or .bench_build."""
    d = pathlib.Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return (d if d.is_absolute() else ROOT / d) / "perfbench"


def sources():
    found = []
    for d in SOURCE_DIRS:
        base = ROOT / d
        if not base.is_dir():
            raise RuntimeError(f"missing source directory {base}")
        found += sorted(base.rglob("*.scala"))
    return found


def build(out=None):
    """Compile if any source changed; return the classes directory."""
    out = pathlib.Path(out) if out else build_dir()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(str(s.relative_to(ROOT)).encode())
        h.update(s.read_bytes())
    stamp = h.hexdigest()
    classes, stamp_file = out / "classes", out / "stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{spark_jars()}/*",
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-d", str(tmp)]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    done = subprocess.run(cmd + [str(s) for s in srcs], timeout=600, stdout=sys.stderr)
    if done.returncode != 0:
        raise RuntimeError(f"scalac exited with code {done.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else None))
