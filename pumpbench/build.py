#!/usr/bin/env python3
"""Build file of the benchmark: compiles the repo's main Scala sources
together with the benchmark's own (`pumpbench/src`) into one classes
directory, with the Scala compiler that ships in Spark's jars.

    python3 pumpbench/build.py        # from the repo root

The output goes to `.bench_build/pumpbench/classes`. A stamp holding a
digest of every source file skips the compile when nothing changed.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build" / "pumpbench"


def spark_jars():
    """Spark's jars dir: from SPARK_HOME, else from spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = Path(shutil.which("spark-submit")).resolve().parent.parent
    jars = Path(home or ".") / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        sys.exit(f"build: no Spark jars with a Scala compiler under {jars}; "
                 "set SPARK_HOME")
    return jars


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        sys.exit(f"build: {main} is missing; run from a full checkout")
    own = Path(__file__).resolve().parent / "src"
    return sorted(main.rglob("*.scala")) + sorted(own.rglob("*.scala"))


def build():
    """Compile if needed; return the classes directory."""
    jars = spark_jars()
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = OUT / "classes.stamp"
    classes = OUT / "classes"
    if stamp.exists() and stamp.read_text() == digest.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    stamp.unlink(missing_ok=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", str(classes)] + [str(f) for f in files]
    done = subprocess.run(cmd, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True)
    if done.returncode != 0:
        sys.stderr.write(done.stdout[-8000:])
        sys.exit(f"build: scalac failed with code {done.returncode}")
    stamp.write_text(digest.hexdigest())
    return classes


if __name__ == "__main__":
    print(build())
