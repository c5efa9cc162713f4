#!/usr/bin/env python3
"""Build file of the engine benchmark.

Compiles the engine's main sources (src/main/scala) together with the
benchmark's own sources (perfbench/src) with the Scala compiler that ships
among Spark's jars, into .bench_build/perfbench/classes. A stamp of every
source's content skips the compile when nothing changed.

    python3 perfbench/build.py        # prints the classpath to run with
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
ENGINE_RES = ROOT / "src" / "main" / "resources"
WORK_DIR = ROOT / ".bench_build" / "perfbench"
CLASSES = WORK_DIR / "classes"
STAMP = WORK_DIR / "classes.stamp"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return Path(home) / "jars"


def sources():
    if not ENGINE_SRC.is_dir():
        raise BuildError(f"engine sources missing: {ENGINE_SRC.relative_to(ROOT)}")
    srcs = sorted(ENGINE_SRC.rglob("*.scala")) + sorted((BENCH_DIR / "src").rglob("*.scala"))
    resources = sorted(p for p in ENGINE_RES.rglob("*") if p.is_file()) if ENGINE_RES.is_dir() else []
    return srcs, resources


def stamp(files, jars: Path) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    h.update("\n".join(sorted(p.name for p in jars.glob("*.jar"))).encode())
    return h.hexdigest()


def ensure() -> str:
    """Compiles if needed; returns the classpath for running the benchmark."""
    jars = spark_jars()
    srcs, resources = sources()
    want = stamp(srcs + resources, jars)
    cp = f"{CLASSES}{os.pathsep}{jars}/*"
    if STAMP.is_file() and STAMP.read_text() == want and CLASSES.is_dir():
        return cp
    tmp = WORK_DIR / f"classes.tmp.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    args_file = WORK_DIR / f"scalac.{os.getpid()}.args"
    args_file.write_text("\n".join(f'"{s}"' for s in srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(tmp), f"@{args_file}"]
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    done = subprocess.run(cmd, stdout=sys.stderr)
    args_file.unlink()
    if done.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac failed with code {done.returncode}")
    for r in resources:
        dst = tmp / r.relative_to(ENGINE_RES)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(r, dst)
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    STAMP.write_text(want)
    return cp


if __name__ == "__main__":
    try:
        print(ensure())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
