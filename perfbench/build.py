"""Builds graft and the benchmark harness from source.

Compiles `src/main/scala` and `perfbench/harness` with the Scala compiler
that ships in the Spark distribution, against the same Spark jars the
repository's sbt build uses (its `unmanagedBase`, else `$SPARK_HOME/jars`).
Classes go to `<build>/classes`; a stamp of the sources skips the compile
when nothing changed.

    python3 perfbench/build.py [BUILD_DIR]    # default .bench_build
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """The jar directory build.sbt compiles against, else $SPARK_HOME/jars."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            return m.group(1)
    except OSError:
        pass
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    raise SystemExit("perfbench: no Spark jars (build.sbt unmanagedBase or SPARK_HOME)")


def sources():
    found = []
    for d in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "harness")):
        found += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(found)


def classpath(build_dir):
    return os.path.join(build_dir, "classes") + os.pathsep + os.path.join(spark_jars(), "*")


def build(build_dir):
    """Compile if the sources changed; return the runtime classpath."""
    srcs = sources()
    if not srcs or not any("/src/main/scala/" in s for s in srcs):
        raise SystemExit("perfbench: no graft sources under src/main/scala")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(build_dir, "classes.stamp")
    classes = os.path.join(build_dir, "classes")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classpath(build_dir)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-Ybackend-parallelism", str(min(4, os.cpu_count() or 1)),
           "-d", classes] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classpath(build_dir)


if __name__ == "__main__":
    print(build(os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".bench_build")))
