"""Build of the benchmark: compiles the program (`src/main`) together with
the benchmark harness (`benchmark/harness`) with the Scala compiler that
ships in Spark's jars (found through SPARK_HOME or `spark-submit` on PATH),
into `.bench_build/classes` at the repository root.

    python3 benchmark/build.py

The build is skipped when the sources are unchanged since the last one.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"

def spark_jars():
    """Spark's jar directory, from SPARK_HOME or the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = Path(shutil.which("spark-submit")).resolve().parent.parent
    if not home or not (Path(home) / "jars").is_dir():
        raise SystemExit("build: Spark not found; set SPARK_HOME")
    return f"{Path(home) / 'jars'}/*"

SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "benchmark" / "harness"]
RESOURCES = ROOT / "src" / "main" / "resources"


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not d.is_dir():
            raise SystemExit(f"build: missing source directory {d}")
        files += sorted(d.rglob("*.scala"))
    return files


def stamp(files):
    h = hashlib.sha256()
    for f in files + sorted(RESOURCES.rglob("*")):
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compiles if needed; returns the classpath for `java -cp`."""
    files = sources()
    digest = stamp(files)
    stamp_file = BUILD / "classes.stamp"
    jars = spark_jars()
    classpath = f"{CLASSES}:{jars}"
    if stamp_file.exists() and stamp_file.read_text() == digest:
        return classpath
    shutil.rmtree(CLASSES, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files))
    # the Scala compiler ships in Spark's jars
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", jars,
           "scala.tools.nsc.Main",
           "-nowarn", "-d", str(CLASSES), "-cp", jars, f"@{argfile}"]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout)
        raise SystemExit(f"build: scalac failed with code {res.returncode}")
    if RESOURCES.is_dir():
        shutil.copytree(RESOURCES, CLASSES, dirs_exist_ok=True)
    stamp_file.write_text(digest)
    return classpath


if __name__ == "__main__":
    print(build())
