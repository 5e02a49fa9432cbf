"""Build file of the benchmark: compiles the repository's Scala sources
together with the benchmark's own (`perfbench/scala`) against the Spark
jars, with the Scala compiler those jars ship.

Run as `python3 perfbench/build.py`; `run.py` calls `build()` itself. The
output goes to `.bench_build/perfbench/classes` in the checkout and is
reused while the sources are unchanged.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"perfbench: no program sources at {main}")
    files = []
    for d in (main, os.path.join(HERE, "scala")):
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def build():
    """Compile if the sources changed; returns the classes directory."""
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(OUT, "stamp")
    classes = os.path.join(OUT, "classes")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classes
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cp = os.path.join(SPARK_JARS, "*")
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", classes, "-cp", cp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    return classes


if __name__ == "__main__":
    print(build())
