#!/usr/bin/env python3
"""Build the benchmark: compile graft's main sources together with the
benchmark's own Scala sources (perfbench/src) into one class directory.

Uses the Scala compiler that ships with Spark's jars, so no build tool,
network or dependency cache is needed. The output directory is
$CARGO_TARGET_DIR (default .bench_build) under the checkout root; a stamp
of the source contents skips the compile when nothing changed.

    python3 perfbench/build.py          # prints the class directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
PROGRAM_RESOURCES = ROOT / "src" / "main" / "resources"
BENCH_SRC = Path(__file__).resolve().parent / "src"


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        sys.exit("perfbench: Spark jars not found (set SPARK_HOME)")
    return Path(home) / "jars"


def build_dir() -> Path:
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return (d if d.is_absolute() else ROOT / d) / "perfbench"


def sources() -> list:
    if not PROGRAM_SRC.is_dir() or not any(PROGRAM_SRC.rglob("*.scala")):
        sys.exit(f"perfbench: no program sources under {PROGRAM_SRC.relative_to(ROOT)}")
    return sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))


def build() -> Path:
    """Compile if the sources changed; return the class directory."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256(str(jars).encode())
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    out = build_dir()
    classes = out / "classes"
    stamp_file = out / "stamp"
    if stamp_file.is_file() and stamp_file.read_text() == stamp and classes.is_dir():
        return classes
    shutil.rmtree(out, ignore_errors=True)
    classes.mkdir(parents=True)
    cp = str(jars / "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}",
           "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-classpath", cp] + [str(p) for p in srcs]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr)
    if r.returncode != 0:
        sys.exit("perfbench: compile failed")
    if PROGRAM_RESOURCES.is_dir():
        shutil.copytree(PROGRAM_RESOURCES, classes, dirs_exist_ok=True)
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    print(build())
