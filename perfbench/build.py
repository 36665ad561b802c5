"""Build step of the benchmark: compile the engine (src/main/scala) and
the benchmark (perfbench/src) into one class directory with the Scala
compiler that ships in Spark's jars directory. No sbt, no dependency
resolution: the compile reads only the checkout and Spark's jars, and
writes only under the build directory.

The class directory is reused while a hash of every source file is
unchanged, so only the first run in a checkout pays for the compile.
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def spark_classpath():
    jars = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    if not jars:
        sys.exit(f"perfbench: no Spark jars under {SPARK_JARS} (set SPARK_HOME)")
    return jars


def sources(checkout):
    engine = sorted(glob.glob(os.path.join(checkout, "src", "main", "scala",
                                           "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(checkout, "perfbench", "src",
                                          "**", "*.scala"), recursive=True))
    return engine, bench


def build(checkout, build_dir):
    """Return the class directory, compiling first if any source changed."""
    engine, bench = sources(checkout)
    if not engine:
        sys.exit("perfbench: no engine sources under src/main/scala; "
                 "run from the root of a repository checkout")
    jars = spark_classpath()
    digest = hashlib.sha256()
    for path in engine + bench:
        digest.update(os.path.relpath(path, checkout).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    digest.update("\n".join(os.path.basename(j) for j in jars).encode())
    stamp = digest.hexdigest()

    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classes

    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        sys.exit(f"perfbench: no Scala compiler jars under {SPARK_JARS}")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    print(f"# compiling {len(engine)} engine and {len(bench)} benchmark sources",
          flush=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn",
           "-classpath", os.pathsep.join(jars), "-d", classes] + engine + bench
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        sys.exit("perfbench: compile failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes
