#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (`src/main/scala` at the repository root) and the
benchmark (`perfbench/src`) with the Scala compiler that ships among the
Spark jars, into `.bench_build/` at the repository root. No build tool is
started and nothing outside the repository is written. A build is reused
while the digest of every source file it was made from is unchanged.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = ROOT / "perfbench" / "src"


def spark_jars() -> pathlib.Path:
    # the jar directory build.sbt compiles against (its unmanagedBase)
    home = pathlib.Path(os.environ.get("SPARK_HOME", "/opt/spark"))
    return home / "jars"


def sources(d: pathlib.Path):
    return sorted(p for p in d.rglob("*.scala") if p.is_file())


def digest(files) -> str:
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def scalac(out: pathlib.Path, classpath: str, files) -> None:
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", str(spark_jars() / "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(out)]
    if classpath:
        cmd += ["-classpath", classpath]
    cmd += [str(f) for f in files]
    subprocess.run(cmd, check=True, stdout=sys.stderr, stderr=sys.stderr, timeout=840)


def build() -> dict:
    """Compile what changed; return the classpath entries and digests."""
    if not PROGRAM_SRC.is_dir():
        raise SystemExit(f"no program sources at {PROGRAM_SRC}")
    if not list(spark_jars().glob("spark-core_*.jar")):
        raise SystemExit(f"no Spark jars under {spark_jars()}")
    prog_files, bench_files = sources(PROGRAM_SRC), sources(BENCH_SRC)
    prog_digest = digest(prog_files)
    bench_digest = digest(bench_files) + "-" + prog_digest
    prog_out, bench_out = OUT / "program", OUT / "bench"
    for out, files, dg, cp in (
            (prog_out, prog_files, prog_digest, ""),
            (bench_out, bench_files, bench_digest, str(prog_out))):
        stamp = out.with_suffix(".stamp")
        if stamp.exists() and stamp.read_text() == dg and out.is_dir():
            continue
        if stamp.exists():
            stamp.unlink()
        scalac(out, cp, files)
        stamp.write_text(dg)
    return {"classpath": [str(bench_out), str(prog_out), str(spark_jars() / "*")],
            "program_digest": prog_digest}


if __name__ == "__main__":
    print(build())
