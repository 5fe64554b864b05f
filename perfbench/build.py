"""Build file of the benchmark: compiles the program's main sources and
the harness under perfbench/src into one class directory with scalac,
the Scala 2.13 compiler that ships among the Spark jars build.sbt names
as `unmanagedBase`.

    python3 perfbench/build.py        # from the repository root

Outputs go under $CARGO_TARGET_DIR when it is set, else `.bench_build`.
A stamp holding a hash of every source skips the compile when nothing
changed.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

SCALA = "2.13.17"
SOURCES = ("src/main/scala", "perfbench/src")


def build_dir():
    return os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def jars():
    """The Spark jar directory the sbt build compiles against."""
    with open("build.sbt") as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise SystemExit("build: no unmanagedBase in build.sbt")
    return m.group(1)


def build(log=sys.stderr):
    """Compile if needed; returns the runtime classpath."""
    for d in SOURCES:
        if not os.path.isdir(d):
            raise SystemExit(f"build: missing source directory {d}")
    files = sorted(f for d in SOURCES
                   for f in glob.glob(f"{d}/**/*.scala", recursive=True))
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp = os.path.join(build_dir(), "classes.stamp")
    classpath = f"{out}:{jars()}/*"
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classpath
    if os.path.exists(stamp):
        os.remove(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(build_dir(), "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    compiler = ":".join(f"{jars()}/scala-{m}-{SCALA}.jar"
                        for m in ("compiler", "library", "reflect"))
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", compiler,
                        "scala.tools.nsc.Main", "-nowarn", "-classpath",
                        f"{jars()}/*", "-d", out, f"@{argfile}"],
                       stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac exited {r.returncode}")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classpath


if __name__ == "__main__":
    print(build())
