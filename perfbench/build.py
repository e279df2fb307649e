"""Build the benchmark: compile the program (`src/main/scala`) and the
benchmark's own code (`perfbench/src`) with the Scala compiler that ships in
Spark's jars, into `.bench_build/perfbench/classes`.

    python3 perfbench/build.py

The build is skipped when the sources are unchanged since the last one
(a content hash is kept next to the classes).
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build" / "perfbench"
CLASSES = OUT / "classes"


def spark_jars() -> Path:
    """Spark's jars (with its Scala compiler): `$SPARK_HOME/jars`, else
    the install `spark-submit` on PATH belongs to."""
    homes = [Path(os.environ["SPARK_HOME"])] if os.environ.get("SPARK_HOME") else []
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = Path(d) / "spark-submit"
        if d and submit.is_file():
            homes.append(submit.resolve().parent.parent)
    for home in homes:
        if any((home / "jars").glob("scala-compiler-*.jar")):
            return home / "jars"
    raise SystemExit("build: no Spark jars with a Scala compiler found; set SPARK_HOME")


def sources() -> list:
    program = ROOT / "src" / "main" / "scala"
    if not program.is_dir():
        raise SystemExit(f"build: no program sources at {program}")
    found = sorted(program.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    return [str(p) for p in found]


def build(timeout: float = 600.0) -> Path:
    """Compile if needed; return the classes directory."""
    srcs = sources()
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(s.encode())
        digest.update(Path(s).read_bytes())
    stamp = OUT / "classes.sha256"
    if CLASSES.is_dir() and stamp.is_file() and stamp.read_text() == digest.hexdigest():
        return CLASSES
    staging = OUT / "classes.tmp"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(srcs) + "\n")
    jars = str(spark_jars() / "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={OUT}",
           "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(staging), "-classpath", jars, "@" + str(argfile)]
    res = subprocess.run(cmd, timeout=timeout)
    if res.returncode != 0:
        raise SystemExit(f"build: scalac exited with {res.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    staging.rename(CLASSES)
    stamp.write_text(digest.hexdigest())
    return CLASSES


if __name__ == "__main__":
    print(build(), file=sys.stderr)
