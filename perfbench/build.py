"""Build file of the benchmark: compiles the program (``src/main/scala``)
together with the harness (``perfbench/scala``) against the Spark jars.

The classes land in ``<build dir>/classes-<hash>``, where the hash covers
every source file, so a checkout builds once and rebuilds only when a
source changes.  The build dir is ``$CARGO_TARGET_DIR`` when set, else
``.bench_build``.  Run directly (``python3 perfbench/build.py``) to build
without measuring.
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys


def spark_home():
    """``$SPARK_HOME``, else the first Spark distribution (a ``bin`` with
    ``spark-submit`` next to ``jars``) on the PATH."""
    candidates = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in candidates:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    raise SystemExit("perfbench: no Spark distribution found; set SPARK_HOME")


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_classpath():
    return os.path.join(spark_home(), "jars", "*")


def sources():
    files = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not files:
        raise SystemExit("perfbench: no program sources under src/main/scala; "
                         "run from the root of a checkout")
    return files + sorted(glob.glob("perfbench/scala/*.scala"))


def build():
    """Return the classes directory, compiling when the sources changed."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(build_dir(), "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xmx3g", "-Xss16m", "-XX:-UsePerfData",
           "-cp", spark_classpath(),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", spark_classpath()] + files
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout)
        raise SystemExit(f"perfbench: compile failed ({proc.returncode})")
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build())
