#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (perfbench/src) into .bench_build/classes, using the Scala
compiler that ships among Spark's jars; the same jars are the runtime
classpath, as in the repo's build.sbt. A build is skipped when a stamp of
every source file matches the last one.

    python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build"
CLASSES = OUT / "classes"


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            sys.exit("build: neither SPARK_HOME nor spark-submit on PATH; cannot find Spark's jars")
        home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        sys.exit(f"build: no scala-compiler jar in {jars}")
    return jars


def sources() -> list:
    program = ROOT / "src" / "main" / "scala"
    if not program.is_dir():
        sys.exit(f"build: the program's sources ({program}) are missing")
    return sorted(program.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))


def stamp(srcs: list, jars: Path) -> str:
    h = hashlib.sha256()
    for jar in sorted(p.name for p in jars.glob("*.jar")):
        h.update(jar.encode())
    for f in srcs:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build() -> tuple:
    """Returns (classes dir, jars dir), compiling first when out of date."""
    jars = spark_jars()
    srcs = sources()
    want = stamp(srcs, jars)
    stamp_file = CLASSES / ".stamp"
    if stamp_file.exists() and stamp_file.read_text() == want:
        return CLASSES, jars
    tmp = OUT / f"classes.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    print(f"build: compiling {len(srcs)} files", file=sys.stderr, flush=True)
    cp = f"{jars}/*"
    r = subprocess.run(
        ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", str(tmp), "-classpath", cp] + [str(f) for f in srcs],
        stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit(f"build: scalac failed with code {r.returncode}")
    (tmp / ".stamp").write_text(want)
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    return CLASSES, jars


if __name__ == "__main__":
    print(build()[0])
