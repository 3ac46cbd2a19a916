"""Build file of the benchmark package.

Compiles the engine (``src/main/scala``) together with the benchmark's own
sources (``perfbench/scala``) into ``.bench_build/classes`` with the Scala
compiler that ships in the Spark jar directory the engine's ``build.sbt``
names as its ``unmanagedBase``, so both compile against the same jars.  No
sbt and no dependency resolution: a fresh checkout builds in seconds, and
nothing is written outside the checkout.

The build is skipped when a stamp over every source file's path and bytes
matches the last successful build.

    python3 perfbench/build.py        # build (or confirm up to date)
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"
STAMP = BUILD / "classes.stamp"
ENGINE_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = ROOT / "perfbench" / "scala"
BUILD_TIMEOUT_S = 800


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    sbt = ROOT / "build.sbt"
    found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      sbt.read_text()) if sbt.is_file() else None
    if not found:
        raise BuildError("build.sbt names no unmanagedBase jar directory")
    jars = Path(found.group(1))
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler jar in {jars}")
    return jars


def sources():
    engine = sorted(ENGINE_SRC.rglob("*.scala")) if ENGINE_SRC.is_dir() else []
    if not engine:
        raise BuildError(f"no engine sources under {ENGINE_SRC.relative_to(ROOT)}")
    bench = sorted(BENCH_SRC.rglob("*.scala"))
    if not bench:
        raise BuildError(f"no benchmark sources under {BENCH_SRC.relative_to(ROOT)}")
    return engine + bench


def stamp_of(files) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(b"\0")
        h.update(f.read_bytes())
        h.update(b"\0")
    return h.hexdigest()


def classpath() -> str:
    return f"{CLASSES}{os.pathsep}{spark_jars() / '*'}"


def build(log=sys.stderr) -> None:
    files = sources()
    jars = spark_jars()
    stamp = stamp_of(files)
    if STAMP.is_file() and STAMP.read_text() == stamp and CLASSES.is_dir():
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    argfile = BUILD / "scalac.args"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", str(jars / "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(CLASSES),
           "-classpath", str(jars / "*"), f"@{argfile}"]
    print(f"building {len(files)} sources into {CLASSES.relative_to(ROOT)}", file=log)
    try:
        done = subprocess.run(cmd, cwd=ROOT, stdout=log, stderr=log,
                              timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise BuildError(f"scalac did not finish within {BUILD_TIMEOUT_S} s")
    if done.returncode != 0:
        raise BuildError(f"scalac failed with exit code {done.returncode}")
    STAMP.write_text(stamp)


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
