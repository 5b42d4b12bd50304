#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles graft's sources (src/main/scala) together with the benchmark's own
(perfbench/src) using the Scala compiler that ships in Spark's jars
directory, into .bench_build/classes-<hash of the sources>. A build whose
sources are unchanged is reused. Exits non-zero when the sources or the
toolchain are missing.

Usage: python3 perfbench/build.py    (prints the classes directory)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"


def spark_jars() -> Path:
    """Spark's jars directory, from SPARK_HOME or the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars" if home else None
    if jars is None or not any(jars.glob("scala-compiler-*.jar")):
        sys.exit("build: no Spark jars directory with a Scala compiler; set SPARK_HOME")
    return jars


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def sources() -> list:
    files = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not files:
        sys.exit("build: no program sources under src/main/scala")
    return files + sorted((ROOT / "perfbench" / "src").rglob("*.scala"))


def build() -> Path:
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    out = BUILD / f"classes-{digest.hexdigest()[:16]}"
    if (out / ".complete").exists():
        return out
    jars = spark_jars()
    tmp = BUILD / f"{out.name}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cp = str(jars / "*")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"]
    done = subprocess.run(cmd, stdout=sys.stderr)
    argfile.unlink()
    if done.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit(f"build: scalac failed with code {done.returncode}")
    (tmp / ".complete").touch()
    for old in BUILD.glob("classes-*"):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    tmp.rename(out)
    return out


if __name__ == "__main__":
    print(build())
