#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the project's main sources
(src/main/scala, with src/main/resources copied alongside) together with the
harness in perfbench/scala into one class directory, against the Spark jars
of $SPARK_HOME (or of the spark-submit found on PATH). No sbt is involved.

The output lives under $CARGO_TARGET_DIR (default .bench_build) in the
current directory and is reused while the digest of every source file is
unchanged.

Usage: python3 perfbench/build.py        # prints the class directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PROJECT_SRC = ROOT / "src" / "main" / "scala"
PROJECT_RES = ROOT / "src" / "main" / "resources"
HARNESS_SRC = HERE / "scala"


class BuildError(Exception):
    pass


def build_root():
    return Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build").resolve() / "perfbench"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return Path(home) / "jars"


def sources():
    if not PROJECT_SRC.is_dir():
        raise BuildError(f"project sources not found at {PROJECT_SRC}")
    files = sorted(p for d in (PROJECT_SRC, HARNESS_SRC)
                   for p in d.rglob("*") if p.suffix in (".scala", ".java"))
    if not files:
        raise BuildError("no sources to compile")
    return files


def digest(files):
    h = hashlib.sha256()
    res = sorted(PROJECT_RES.rglob("*")) if PROJECT_RES.is_dir() else []
    for p in list(files) + [r for r in res if r.is_file()]:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(log=sys.stderr):
    """Return (class dir, source digest), compiling when sources changed."""
    files = sources()
    dig = digest(files)
    out = build_root()
    classes = out / "classes"
    stamp = out / "classes.digest"
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == dig:
        return classes, dig
    jars = spark_jars()
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(f'"{p}"' for p in files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", f"{jars}/*", f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("compilation failed:\n" + r.stdout[-4000:])
    if PROJECT_RES.is_dir():
        shutil.copytree(PROJECT_RES, tmp, dirs_exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp.write_text(dig)
    return classes, dig


def classpath(classes):
    return f"{classes}{os.pathsep}{spark_jars()}/*"


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        sys.exit(2)
