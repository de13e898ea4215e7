"""Build file of the benchmark package: compiles the engine's sources
(src/main/scala) together with the benchmark's own (perfbench/scala)
into .bench_build/classes, with the Scala compiler the Spark
distribution ships. The compile is skipped while a stamp over every
source file still matches.

Usage: python3 perfbench/build.py
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
SCALA = "2.13.17"
OUT = ROOT / ".bench_build"
CLASSES = OUT / "classes"
STAMP = OUT / "stamp"


def spark_jars():
    """The Spark jar directory the sbt build compiles against."""
    m = re.search(r'unmanagedBase := file\("([^"]+)"\)',
                  (ROOT / "build.sbt").read_text())
    return Path(m.group(1))


def sources():
    files = []
    for base in (ROOT / "src" / "main" / "scala", HERE / "scala"):
        files += sorted(base.rglob("*.scala"))
    return files


def classpath():
    return f"{CLASSES}{os.pathsep}{spark_jars()}/*"


def build():
    """Compile when needed; returns the classes directory."""
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise SystemExit(f"no engine sources at {main.relative_to(ROOT)}")
    srcs = sources()
    h = hashlib.sha256(SCALA.encode())
    for f in srcs:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == stamp:
        return CLASSES
    shutil.rmtree(CLASSES, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    args = OUT / "sources.txt"
    args.write_text("\n".join(str(f) for f in srcs) + "\n")
    jars = spark_jars()
    compiler = os.pathsep.join(
        str(jars / f"scala-{n}-{SCALA}.jar")
        for n in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(CLASSES), "-classpath", f"{jars}/*",
           f"@{args}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"compile failed with code {r.returncode}")
    STAMP.write_text(stamp)
    return CLASSES


if __name__ == "__main__":
    print(build())
