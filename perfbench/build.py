"""Build file of the benchmark harness.

Compiles the repository's main sources together with ``perfbench/harness``
with the Scala compiler that ships in the Spark distribution, into
``.bench_build/classes`` of the checkout it is run from.  A stamp of the
sources' contents skips the compile when nothing changed.

    python3 perfbench/build.py        # from the repository root
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
HARNESS_DIR = os.path.join("perfbench", "harness")


def spark_jars():
    home = os.environ.get("SPARK_HOME", "")
    found = sorted(glob.glob(os.path.join(home, "jars", "*.jar"))) if home else []
    if not found:
        raise SystemExit("no Spark jars found: set SPARK_HOME to a Spark distribution")
    return found


def sources():
    main = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not main:
        raise SystemExit("src/main/scala not found: run from the repository root")
    return main + sorted(glob.glob(os.path.join(HARNESS_DIR, "*.scala")))


def classpath():
    """Runtime classpath of the harness."""
    return os.pathsep.join([os.path.join(BUILD_DIR, "classes"),
                            os.path.join("src", "main", "resources")] + spark_jars())


def build():
    srcs = sources()
    jars = spark_jars()
    digest = hashlib.sha256()
    for path in srcs + jars:
        digest.update(path.encode())
        if path.endswith(".scala"):
            with open(path, "rb") as f:
                digest.update(f.read())
    stamp = digest.hexdigest()
    out = os.path.join(BUILD_DIR, "classes")
    stamp_file = os.path.join(BUILD_DIR, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.pathsep.join(jars)] + srcs
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        raise SystemExit("harness build failed")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    build()
