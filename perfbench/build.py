"""Build file of the benchmark package.

Compiles the program (src/main/scala) together with the benchmark's own
Scala sources (perfbench/src) with the Scala compiler that ships in
Spark's jar directory (see spark_jars), into
<build dir>/perfbench/classes, and packs the classes and the program's
resources into <build dir>/perfbench/perfbench.jar. The build is
skipped when a stamp of every source file's content still matches.

Usage: python3 perfbench/build.py [build dir]   (default .bench_build)
"""
import hashlib
import importlib.util
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH_SRC = ROOT / "perfbench" / "src"
MAIN_SRC = ROOT / "src" / "main" / "scala"
RESOURCES = ROOT / "src" / "main" / "resources"


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the one beside the
    spark-submit on the PATH, else the one inside the pyspark package; the
    first that holds a Scala compiler."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    if shutil.which("spark-submit"):
        candidates.append(Path(shutil.which("spark-submit")).resolve().parent.parent / "jars")
    pyspark = importlib.util.find_spec("pyspark")
    if pyspark and pyspark.origin:
        candidates.append(Path(pyspark.origin).parent / "jars")
    for jars in candidates:
        if any(jars.glob("scala-compiler*.jar")):
            return jars
    raise SystemExit("perfbench: no Spark jar directory with a Scala compiler; set SPARK_HOME")


def build_dir():
    return (ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve()


def sources():
    if not MAIN_SRC.is_dir() or not RESOURCES.is_dir():
        raise SystemExit("perfbench: program sources (src/main) not found; "
                         "run from a full checkout")
    return sorted(MAIN_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))


def build(out=None):
    """Compile if needed; return (classpath, source digest)."""
    out = Path(out) if out else build_dir() / "perfbench"
    jars = spark_jars()
    files = sources()
    digest = hashlib.sha256()
    for f in files + sorted(p for p in RESOURCES.rglob("*") if p.is_file()):
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = out / "classes.stamp"
    classes = out / "classes"
    jar = out / "perfbench.jar"
    if not (stamp.exists() and stamp.read_text() == digest.hexdigest() and jar.exists()):
        staging = out / "classes.tmp"
        shutil.rmtree(staging, ignore_errors=True)
        staging.mkdir(parents=True)
        argfile = out / "sources.txt"
        argfile.write_text("\n".join(str(f) for f in files) + "\n")
        cp = f"{jars}/*"
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-classpath", cp, "-d", str(staging), f"@{argfile}"]
        subprocess.run(cmd, check=True, stdout=sys.stderr)
        shutil.rmtree(classes, ignore_errors=True)
        staging.rename(classes)
        # one jar of the classes and resources: the JVM's class-data
        # sharing archives classes from jars only
        with zipfile.ZipFile(out / "perfbench.jar.tmp", "w", zipfile.ZIP_STORED) as z:
            for root in (classes, RESOURCES):
                for f in sorted(p for p in root.rglob("*") if p.is_file()):
                    z.write(f, f.relative_to(root).as_posix())
        (out / "perfbench.jar.tmp").rename(jar)
        stamp.write_text(digest.hexdigest())
    return os.pathsep.join([str(jar), f"{jars}/*"]), digest.hexdigest()


if __name__ == "__main__":
    print(build(Path(sys.argv[1]) / "perfbench" if len(sys.argv) > 1 else None)[0])
