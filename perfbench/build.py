"""Build file of the perfbench package: compiles the program's sources
(src/main/scala) together with the benchmark harness (perfbench/src) with
the Scala compiler that ships in Spark's jar directory.

    python3 perfbench/build.py          # from the repository root

Classes go to .bench_build/classes. The build is skipped when a stamp of
every source file's path and content matches the last build.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

OUT = os.path.join(".bench_build", "classes")
STAMP = os.path.join(".bench_build", "classes.stamp")
SOURCES = ["src/main/scala", "perfbench/src"]
RESOURCES = "src/main/resources"


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the pyspark package's."""
    home = os.environ.get("SPARK_HOME")
    cands = [os.path.join(home, "jars")] if home else []
    try:
        import importlib.util
        spec = importlib.util.find_spec("pyspark")
        if spec and spec.origin:
            cands.append(os.path.join(os.path.dirname(spec.origin), "jars"))
    except ImportError:
        pass
    for c in cands:
        if glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    sys.exit("perfbench: no Spark jars found (set SPARK_HOME)")


def sources():
    files = []
    for d in SOURCES:
        if not os.path.isdir(d):
            sys.exit("perfbench: %s is missing; run from the repository root" % d)
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for f in files + sorted(glob.glob(os.path.join(RESOURCES, "**", "*"), recursive=True)):
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure():
    """Compiles if the sources changed; returns (classes dir, jars dir)."""
    jars = spark_jars()
    files = sources()
    want = stamp(files)
    if os.path.exists(STAMP) and open(STAMP).read() == want and os.path.isdir(OUT):
        return OUT, jars
    tmp = OUT + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", cp] + files
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit("perfbench: compile failed")
    if os.path.isdir(RESOURCES):
        shutil.copytree(RESOURCES, tmp, dirs_exist_ok=True)
    shutil.rmtree(OUT, ignore_errors=True)
    os.rename(tmp, OUT)
    with open(STAMP, "w") as f:
        f.write(want)
    return OUT, jars


if __name__ == "__main__":
    print(ensure()[0])
