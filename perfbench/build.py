"""Compile graft and the benchmark's Scala code into one class directory.

    python3 perfbench/build.py

Compiles src/main/scala and perfbench/src with the Scala compiler that
ships in Spark's jars directory, the jars the sbt build compiles against:
$SPARK_HOME/jars if SPARK_HOME is set, else the `unmanagedBase` directory
build.sbt names, else the installation of the spark-submit on PATH.
Output goes to .bench_build/classes under the checkout root. A stamp
over every source file skips the build when nothing changed.
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"
STAMP = BUILD / "classes.stamp"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]
RESOURCES = ROOT / "src" / "main" / "resources"


def spark_jars():
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    sbt = ROOT / "build.sbt"
    if sbt.exists():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            candidates.append(Path(m.group(1)))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(Path(submit).resolve().parents[1] / "jars")
    for jars in candidates:
        if list(jars.glob("spark-core_*.jar")):
            return jars
    raise SystemExit("build: no Spark jars found (set SPARK_HOME)")


def sources():
    missing = [d for d in SOURCE_DIRS if not d.is_dir()]
    if missing:
        raise SystemExit("build: missing source directories: " + ", ".join(map(str, missing)))
    files = sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))
    if not any(str(p).startswith(str(SOURCE_DIRS[0])) for p in files):
        raise SystemExit(f"build: no Scala sources under {SOURCE_DIRS[0]}")
    return files


def digest(files):
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def classpath():
    """Runtime classpath: compiled classes, graft's resources, Spark."""
    return os.pathsep.join([str(CLASSES), str(RESOURCES), str(spark_jars() / "*")])


def build(log=sys.stderr):
    files = sources()
    jars = spark_jars()
    stamp = digest(files)
    if CLASSES.is_dir() and STAMP.exists() and STAMP.read_text() == stamp:
        return CLASSES
    BUILD.mkdir(exist_ok=True)
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(tmp), "@" + str(argfile)]
    print(f"build: compiling {len(files)} Scala files", file=log, flush=True)
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        print(res.stdout[-8000:], file=log)
        raise SystemExit(f"build: scalac failed with exit code {res.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    STAMP.write_text(stamp)
    return CLASSES


if __name__ == "__main__":
    build()
    print(CLASSES)
