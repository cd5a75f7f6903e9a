"""Build file of the benchmark: compiles the engine's sources and the
benchmark's own Scala sources into one class directory.

The compiler is the Scala compiler that ships in the Spark distribution
(`$SPARK_HOME/jars`, or the distribution `spark-submit` on PATH belongs
to), so the build needs no dependency resolution. Output goes to
`.bench_build/perfbench/<source hash>/` under the checkout and is reused
while no source changes.

    python3 perfbench/build.py        # prints the class directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = BENCH / "src"
OUT = ROOT / ".bench_build" / "perfbench"


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    jars = Path(home or "") / "jars"
    if not home or not list(jars.glob("scala-compiler-*.jar")):
        raise BuildError("no Spark distribution with a Scala compiler: set SPARK_HOME")
    return jars


def sources():
    if not ENGINE_SRC.is_dir():
        raise BuildError(f"engine sources not found at {ENGINE_SRC.relative_to(ROOT)}")
    files = sorted(ENGINE_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources")
    return files


def build():
    """Returns the class directory, compiling first if the sources changed."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    target = OUT / h.hexdigest()[:16]
    if (target / "classes").is_dir():
        return target / "classes"
    shutil.rmtree(OUT, ignore_errors=True)
    tmp = target / "tmp"
    tmp.mkdir(parents=True)
    cp = f"{jars}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-cp", cp] + [str(f) for f in files]
    done = subprocess.run(cmd, capture_output=True, text=True)
    if done.returncode != 0:
        raise BuildError("scalac failed:\n" + (done.stdout + done.stderr)[-4000:])
    tmp.rename(target / "classes")
    return target / "classes"


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
