#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the harness (perfbench/scala) with the Scala compiler shipped among the
Spark jars that the repo's build.sbt compiles against. Classes go to
.bench_build/classes; a stamp of every input skips an unchanged rebuild.

    python3 perfbench/build.py      # prints the run classpath
"""
import hashlib
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """The jar directory named by build.sbt's `unmanagedBase`."""
    sbt = ROOT / "build.sbt"
    if not sbt.is_file():
        raise BuildError(f"{sbt} missing: not a checkout of the program")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
    if not m or not Path(m.group(1)).is_dir():
        raise BuildError("build.sbt names no existing unmanagedBase jar dir")
    return Path(m.group(1))


def sources() -> list:
    program = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not program:
        raise BuildError("src/main/scala holds no sources")
    return program + sorted((ROOT / "perfbench" / "scala").glob("*.scala"))


def build() -> str:
    """Compile if any input changed; return the run classpath."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(str(jars).encode())
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    classes = BUILD / "classes"
    stamp_file = BUILD / "stamp"
    cp = f"{classes}:{jars}/*"
    if stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
         "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
         "-classpath", f"{jars}/*", f"@{argfile}"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=800)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return cp


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
