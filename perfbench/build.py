"""Builds the engine and the benchmark's JVM side from source.

Compiles the repository's `src/main/scala` together with `perfbench/src`
against the Spark jars that `build.sbt` names as its `unmanagedBase`, with
the Scala compiler that ships among them, into `.bench_build/classes`. A
stamp of the sources' content skips the build when nothing changed. Run on
its own: `python3 perfbench/build.py`.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build"


class BuildError(Exception):
    pass


def spark_jars():
    """The directory of Spark jars the repository's sbt build uses."""
    sbt = ROOT / "build.sbt"
    found = sbt.is_file() and re.search(
        r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
    if not found:
        raise BuildError("build.sbt names no unmanagedBase for Spark's jars")
    jars = Path(found.group(1))
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler among the Spark jars in {jars}")
    return jars


def _sources():
    dirs = [ROOT / "src" / "main" / "scala", HERE / "src"]
    missing = [str(d) for d in dirs if not d.is_dir()]
    if missing:
        raise BuildError("no sources to build: missing " + ", ".join(missing))
    return sorted(p for d in dirs for p in d.rglob("*.scala"))


def build():
    """Compiles when the sources changed; returns the run-time classpath."""
    files = _sources()
    jars = str(spark_jars() / "*")
    classpath = os.pathsep.join([str(OUT / "classes"),
                                 str(ROOT / "src" / "main" / "resources"), jars])
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = digest.hexdigest()
    stamp_file = OUT / "stamp"
    if stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classpath
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp), "-classpath", jars]
    cmd += [str(f) for f in files]
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=800)
    if done.returncode != 0:
        raise BuildError("scalac failed:\n" + done.stdout[-4000:])
    shutil.rmtree(OUT / "classes", ignore_errors=True)
    tmp.rename(OUT / "classes")
    stamp_file.write_text(stamp)
    return classpath


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
