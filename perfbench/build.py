"""Build file of the benchmark package: compiles the program's sources
(src/main/scala of the checkout) together with the benchmark's own
(perfbench/src, perfbench/test) into one class directory, with the Scala
compiler and Spark jars the image ships. No sbt, no dependency fetch.

    python3 perfbench/build.py            # prints the class directory

The build is skipped when a stamp of every source file still matches.
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """$SPARK_HOME/jars, else the `unmanagedBase` the root build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME (no unmanagedBase in build.sbt)")
    return m.group(1)


def build_dir():
    """Build outputs live under the checkout's .bench_build (or the
    directory CARGO_TARGET_DIR names), never beside the sources."""
    base = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    if not os.path.isabs(base):
        base = os.path.join(ROOT, base)
    return os.path.join(base, "perfbench")


def sources():
    found = []
    for d in ("src/main/scala", "perfbench/src", "perfbench/test"):
        found += glob.glob(os.path.join(ROOT, d, "**", "*.scala"), recursive=True)
    return sorted(found)


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(classes):
    return classes + os.pathsep + os.path.join(spark_jars(), "*")


def build(log=sys.stderr):
    """Compile if the sources changed; return (class dir, source digest)."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no src/main/scala beside perfbench/ - "
                         "run from the root of a full checkout")
    jars = spark_jars()
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise SystemExit(f"perfbench: no Spark jars under {jars}")
    files = sources()
    digest = source_digest(files)
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes, digest
    os.makedirs(out, exist_ok=True)
    tmp = classes + ".tmp"
    subprocess.run(["rm", "-rf", tmp, classes, stamp], check=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    print(f"perfbench: compiling {len(files)} sources", file=log, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    os.rename(tmp, classes)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes, digest


if __name__ == "__main__":
    print(build()[0])
