#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources together
with the benchmark's own Scala sources into `.bench_build/graft-bench.jar`
at the repository root, with the Scala compiler that ships in the Spark
distribution's jar directory. A stamp of every source's content skips
the compile when nothing changed. A rebuild deletes the class-data
archive that run.py keeps next to the jar.

    python3 perfbench/build.py        # build (or confirm up to date)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one next to the spark-submit found on PATH."""
    homes = []
    if os.environ.get("SPARK_HOME"):
        homes.append(os.environ["SPARK_HOME"])
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise BuildError("no Spark distribution with a Scala compiler found "
                     "(set SPARK_HOME)")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java executable found (set JAVA_HOME)")
    return exe


def sources(root=ROOT):
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError(f"program sources not found under {main}")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return files


def archive(root=ROOT):
    """The JVM class-data archive run.py dumps on a checkout's first run."""
    return os.path.join(root, ".bench_build", "classes.jsa")


def build(root=ROOT):
    """Returns the jar of compiled classes, compiling first when stale."""
    jars = spark_jars()
    files = sources(root)
    h = hashlib.sha256()
    for f in files + sorted(glob.glob(os.path.join(jars, "*.jar"))):
        h.update(os.path.relpath(f, root).encode())
        if f.endswith(".scala"):
            with open(f, "rb") as fh:
                h.update(fh.read())
    stamp = h.hexdigest()
    out = os.path.join(root, ".bench_build")
    jar = os.path.join(out, "graft-bench.jar")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(jar) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return jar
    os.makedirs(out, exist_ok=True)
    tmp = os.path.join(out, f"classes.tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp] + files
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    # a jar, not a directory: the JVM archives classes from jars only
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, names in os.walk(tmp):
            for n in sorted(names):
                f = os.path.join(d, n)
                z.write(f, os.path.relpath(f, tmp))
    shutil.rmtree(tmp, ignore_errors=True)
    if os.path.exists(archive(root)):
        os.remove(archive(root))
    os.replace(jar + ".tmp", jar)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return jar


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
