#!/usr/bin/env python3
"""Builds graft and the benchmark harness from source.

Compiles src/main/scala (graft) together with graftbench/src and
graftbench/tests with the Scala compiler that ships in the Spark jars, into
<out>/classes. A stamp of every source's path and content skips the build
when nothing changed. graft's resources are used in place from
src/main/resources.

Usage: python3 graftbench/build.py [<out_dir>]   (default .bench_build)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "graftbench"
SCALA = "2.13.17"


def spark_jars():
    """The jars of the Spark install named by SPARK_HOME, else of the first
    spark-submit on PATH whose install ships the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME")] + [
        str(Path(d).parent) for d in os.environ.get("PATH", "").split(os.pathsep)
        if (Path(d) / "spark-submit").is_file()]
    for home in filter(None, homes):
        if (Path(home) / "jars" / f"scala-compiler-{SCALA}.jar").is_file():
            return Path(home) / "jars"
    raise SystemExit(f"no Spark install with scala-compiler-{SCALA}.jar: set SPARK_HOME")


SPARK_JARS = spark_jars()


def sources():
    dirs = [ROOT / "src/main/scala", BENCH / "src", BENCH / "tests"]
    return sorted(p for d in dirs for p in d.rglob("*.scala"))


def stamp(files):
    h = hashlib.sha256(SCALA.encode())
    for f in files + sorted((ROOT / "src/main/resources").rglob("*")):
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def classpath(classes):
    return os.pathsep.join([str(classes), str(ROOT / "src/main/resources"), str(SPARK_JARS / "*")])


def build(out):
    """Returns the classes directory, compiling first if sources changed."""
    if not (ROOT / "src/main/scala/graft").is_dir():
        raise SystemExit(f"graft sources not found under {ROOT / 'src/main/scala'}")
    compiler = [SPARK_JARS / f"scala-{m}-{SCALA}.jar" for m in ("compiler", "library", "reflect")]
    missing = [str(j) for j in compiler if not j.is_file()]
    if missing:
        raise SystemExit(f"Scala compiler jars not found: {missing}")
    out = Path(out).resolve()
    classes = out / "classes"
    files = sources()
    want = stamp(files)
    stamp_file = classes / ".stamp"
    if stamp_file.is_file() and stamp_file.read_text() == want:
        return classes
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files))
    print(f"[graftbench] compiling {len(files)} Scala files", file=sys.stderr, flush=True)
    done = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(map(str, compiler)),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(tmp),
         "-cp", str(SPARK_JARS / "*"), f"@{argfile}"],
        stdout=sys.stderr)
    if done.returncode != 0:
        raise SystemExit(f"compilation failed (exit {done.returncode})")
    (tmp / ".stamp").write_text(want)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    return classes


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else ROOT / ".bench_build"))
