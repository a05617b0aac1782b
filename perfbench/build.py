"""Build file of the benchmark package.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (perfbench/src) into one class directory with the Scala
compiler that ships in the Spark distribution's jars, and returns the
classpath to run. A build is skipped when a digest of every source file
matches the last build.

Run from the repository root:  python3 perfbench/build.py
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

PROGRAM_SOURCES = Path("src/main/scala")
BENCH_SOURCES = Path("perfbench/src")
BUILD_DIR = Path(".bench_build/perfbench")


class BuildError(RuntimeError):
    pass


def spark_jars() -> Path:
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one next to the spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(os.path.realpath(submit)).parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("no Spark distribution: set SPARK_HOME")
    return Path(home) / "jars"


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    exe = str(Path(home) / "bin" / "java") if home else shutil.which("java")
    if not exe or not Path(exe).exists():
        raise BuildError("no java: set JAVA_HOME or put java on PATH")
    return exe


def sources() -> list:
    if not PROGRAM_SOURCES.is_dir():
        raise BuildError(f"{PROGRAM_SOURCES} not found: run from the repository root")
    files = sorted(PROGRAM_SOURCES.rglob("*.scala")) + sorted(BENCH_SOURCES.rglob("*.scala"))
    return [f for f in files if f.is_file()]


def digest(files: list, jars: Path) -> str:
    h = hashlib.sha256(str(sorted(p.name for p in jars.glob("*.jar"))).encode())
    for f in files:
        h.update(str(f).encode() + b"\0" + f.read_bytes() + b"\0")
    return h.hexdigest()


def build(log=sys.stderr) -> tuple:
    """Compiles if needed; returns (classpath, source digest)."""
    jars = spark_jars()
    files = sources()
    tag = digest(files, jars)
    classes = BUILD_DIR / "classes"
    stamp = BUILD_DIR / "stamp"
    if not (stamp.is_file() and stamp.read_text() == tag and classes.is_dir()):
        print(f"perfbench: compiling {len(files)} Scala files", file=log, flush=True)
        tmp = BUILD_DIR / "classes.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        argfile = BUILD_DIR / "scalac.args"
        argfile.write_text("\n".join(str(f) for f in files) + "\n")
        cp = str(jars / "*")
        cmd = [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"]
        proc = subprocess.run(cmd, stdout=log, stderr=log)
        if proc.returncode != 0:
            raise BuildError(f"scalac failed with exit code {proc.returncode}")
        shutil.rmtree(classes, ignore_errors=True)
        tmp.rename(classes)
        stamp.write_text(tag)
    return f"{classes.resolve()}{os.pathsep}{jars / '*'}", tag


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)
