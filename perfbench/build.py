#!/usr/bin/env python3
"""Builds the benchmark from source.

Compiles the program's main sources (src/main/scala) together with the
benchmark's own (perfbench/src) into .bench_build/classes, with the Scala
compiler that ships among Spark's jars ($SPARK_HOME/jars, else the jars
directory beside spark-submit on the PATH), and copies the program's
resources next to the classes.
A stamp over every input skips the build when nothing changed.

Usage: python3 perfbench/build.py   (prints the classes directory)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build"
MAIN_SRC = ROOT / "src" / "main" / "scala"
MAIN_RES = ROOT / "src" / "main" / "resources"


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: set SPARK_HOME or put spark-submit on the PATH")
        home = Path(submit).resolve().parent.parent
    return Path(home) / "jars"


def inputs() -> list:
    files = sorted(MAIN_SRC.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    if MAIN_RES.is_dir():
        files += sorted(p for p in MAIN_RES.rglob("*") if p.is_file())
    return files + [Path(__file__).resolve()]


def stamp(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build() -> Path:
    if not MAIN_SRC.is_dir():
        raise SystemExit(f"perfbench: {MAIN_SRC.relative_to(ROOT)} not found; "
                         "run from the root of a checkout of the repository")
    jars = spark_jars()
    if not list(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no scala-compiler jar in {jars}")
    files = inputs()
    classes, stamp_file = OUT / "classes", OUT / "classes.stamp"
    digest = stamp(files)
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == digest:
        return classes
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files if f.suffix == ".scala") + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(tmp), f"@{argfile}"]
    print("perfbench: compiling", file=sys.stderr, flush=True)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise SystemExit("perfbench: compilation failed")
    if MAIN_RES.is_dir():
        shutil.copytree(MAIN_RES, tmp, dirs_exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(digest)
    return classes


if __name__ == "__main__":
    print(build())
