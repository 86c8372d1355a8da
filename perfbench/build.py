"""Build file of the benchmark: compiles the graft library sources
(src/main) together with the benchmark harness (perfbench/src) with the
Scala compiler that ships in Spark's jars directory, and packs classes
and resources into .bench_build/perfbench.jar. A stamp over every input
skips the compile when nothing changed.

    python3 perfbench/build.py      # prints the classpath to run with
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
BUILD = REPO / ".bench_build"
JAR = BUILD / "perfbench.jar"
# class-data-sharing archive of the classes a run loads; run.py dumps it
# on the first run after a build and maps it on every later run
ARCHIVE = BUILD / "perfbench.jsa"


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else the repo's own
    declaration in build.sbt (`unmanagedBase := file(...)`)."""
    if os.environ.get("SPARK_HOME"):
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = REPO / "build.sbt"
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      sbt.read_text() if sbt.is_file() else "")
        if not m:
            raise BuildError("no SPARK_HOME and no unmanagedBase in build.sbt")
        jars = Path(m.group(1))
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler among the jars in {jars}")
    return jars


def sources():
    lib = REPO / "src" / "main" / "scala"
    if not lib.is_dir():
        raise BuildError(f"library sources not found under {lib}")
    return sorted(lib.rglob("*.scala")) + sorted((REPO / "perfbench" / "src").rglob("*.scala"))


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(REPO)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile if needed; return (classpath, source digest)."""
    jars = spark_jars()
    files = sources()
    resources = REPO / "src" / "main" / "resources"
    res_files = sorted(p for p in resources.rglob("*") if p.is_file()) if resources.is_dir() else []
    digest = source_digest(files + res_files)
    classpath = f"{JAR}{os.pathsep}{jars}/*"
    stamp = BUILD / "build.stamp"
    if stamp.is_file() and stamp.read_text() == digest and JAR.is_file():
        return classpath, digest
    staging = BUILD / "classes.tmp"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(staging), "-classpath", f"{jars}/*"] + [str(f) for f in files]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    ARCHIVE.unlink(missing_ok=True)
    tmp_jar = BUILD / "perfbench.jar.tmp"
    with zipfile.ZipFile(tmp_jar, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(p for p in staging.rglob("*") if p.is_file()):
            z.write(f, f.relative_to(staging).as_posix())
        for f in res_files:
            z.write(f, f.relative_to(resources).as_posix())
    tmp_jar.replace(JAR)
    shutil.rmtree(staging)
    stamp.write_text(digest)
    return classpath, digest


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
