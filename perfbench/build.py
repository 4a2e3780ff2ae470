"""Build file of the benchmark: compiles the program (src/main/scala)
together with the benchmark's JVM side (perfbench/src) into one class
directory with the Scala compiler that ships in Spark's jars. A stamp of
every source file's content skips the compile when nothing changed.

    python3 perfbench/build.py      # builds into .bench_build/classes
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the ones beside spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            sys.exit("perfbench: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars", "*")


def sources():
    dirs = [os.path.join(ROOT, "src", "main", "scala"),
            os.path.join(ROOT, "perfbench", "src")]
    return sorted(f for d in dirs
                  for f in glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def build():
    """Returns the class directory, compiling first if sources changed."""
    srcs = sources()
    if not any(f.startswith(os.path.join(ROOT, "src")) for f in srcs):
        sys.exit("perfbench: no program sources under src/main/scala")
    digest = hashlib.sha256()
    for f in srcs:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", spark_jars(),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", spark_jars()] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit("perfbench: compile failed")
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    return classes


if __name__ == "__main__":
    print(build())
