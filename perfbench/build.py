"""Build file of the benchmark: compiles the program (src/main/scala of the
checkout) together with the harness (perfbench/scala) with the Scala
compiler that ships in the Spark distribution, into
.bench_build/classes. A content stamp skips the compile when no source
changed.

    python3 perfbench/build.py          # build, print the class path
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the checkout's build.sbt
    compiles against (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
    return Path(m.group(1)) if m else Path("spark-jars-not-found")


SPARK_JARS = spark_jars()
OUT = ROOT / ".bench_build"
CLASSES = OUT / "classes"


def sources():
    program = ROOT / "src" / "main" / "scala"
    if not program.is_dir():
        raise SystemExit(f"program source {program} not found: run from a checkout")
    found = sorted(program.rglob("*.scala")) + sorted((HERE / "scala").rglob("*.scala"))
    if not any(p.name == "SparkEntry.scala" for p in found):
        raise SystemExit("program source has no SparkEntry.scala")
    return found


def stamp(files):
    h = hashlib.sha256()
    for p in files + [Path(__file__).resolve()]:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def classpath():
    return f"{CLASSES}{os.pathsep}{SPARK_JARS}/*"


def build():
    """Compile if any source changed; return the run-time class path."""
    files = sources()
    want = stamp(files)
    stamp_file = CLASSES / ".stamp"
    if stamp_file.exists() and stamp_file.read_text() == want:
        return classpath()
    if not SPARK_JARS.is_dir():
        raise SystemExit(f"Spark jars not found at {SPARK_JARS} (set SPARK_HOME)")
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{SPARK_JARS}/*", "scala.tools.nsc.Main",
           "-d", str(tmp), "-classpath", f"{SPARK_JARS}/*", "-nowarn"] + [str(f) for f in files]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        raise SystemExit(f"compile failed (exit {r.returncode})")
    (tmp / ".stamp").write_text(want)
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    return classpath()


if __name__ == "__main__":
    print(build())
