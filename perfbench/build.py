"""Build file of the benchmark package: compiles the library sources
(`src/main/scala`) and the harness (`perfbench/scala`) with the Scala
compiler that ships in the Spark distribution, into
`.bench_build/perfbench/classes` under the repository root.

A stamp of the source contents skips the compile when nothing changed.
Run it directly (`python3 perfbench/build.py`) or let `run.py` call it.
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

# The jar directory build.sbt compiles against (its unmanagedBase).
SPARK_JARS = os.environ.get("SPARK_JARS", "/opt/spark/jars")
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(BUILD, "classes")


def sources():
    lib = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                           recursive=True))
    if not lib:
        raise SystemExit("perfbench: no library sources under src/main/scala")
    own = sorted(glob.glob(os.path.join(ROOT, "perfbench/scala/*.scala")))
    return lib + own


def classpath():
    return CLASSES + os.pathsep + os.path.join(SPARK_JARS, "*")


def build():
    srcs = sources()
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(path.encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return CLASSES
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", CLASSES] + srcs
    proc = subprocess.run(cmd, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True, timeout=600,
                          cwd=CLASSES)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit(f"perfbench: compile failed ({proc.returncode})")
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return CLASSES


if __name__ == "__main__":
    print(build())
