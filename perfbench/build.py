"""Builds the benchmark harness together with the engine it drives.

Compiles the engine (src/main/scala) and the harness (perfbench/scala)
with the Scala compiler among the Spark jars that build.sbt compiles
against (its `unmanagedBase`), into .bench_build/classes. A build is
reused while a hash of every source file matches its stamp.

    python3 perfbench/build.py    # prints the classes directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SOURCES = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "scala"]
RESOURCES = ROOT / "src" / "main" / "resources"


def spark_jars():
    """The jar directory build.sbt names as its `unmanagedBase`."""
    found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if not found:
        raise SystemExit("perfbench: build.sbt names no unmanagedBase jar directory")
    return found.group(1)


def classpath(classes):
    return f"{classes}{os.pathsep}{spark_jars()}/*"


def _inputs():
    files = []
    for d in SOURCES + [RESOURCES]:
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def build():
    """Compiles when sources changed; returns the classes directory."""
    missing = [str(d.relative_to(ROOT)) for d in SOURCES if not d.is_dir()]
    if missing:
        raise SystemExit(f"perfbench: missing sources {missing}; run from a full checkout")
    files = _inputs()
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    out = ROOT / ".bench_build"
    classes, stamp = out / "classes", out / "stamp"
    if stamp.exists() and stamp.read_text() == digest.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    scala = [str(f) for f in files if f.suffix == ".scala"]
    jars = f"{spark_jars()}/*"
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-classpath", jars] + scala
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if done.returncode != 0:
        sys.stderr.write(done.stdout[-4000:])
        raise SystemExit("perfbench: compile failed")
    if RESOURCES.is_dir():
        shutil.copytree(RESOURCES, classes, dirs_exist_ok=True)
    stamp.write_text(digest.hexdigest())
    return classes


if __name__ == "__main__":
    print(build())
