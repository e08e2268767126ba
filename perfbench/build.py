"""Build file of the benchmark.

Compiles the repository's Scala sources (``src/main/scala``) together with
the benchmark's own (``perfbench/src``) into ``perfbench/.work/classes``,
using the Scala compiler that ships among Spark's jars. A stamp of the
source digest makes a rebuild of unchanged sources a no-op.

Usage: python3 perfbench/build.py
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
WORK = HERE / ".work"
CLASSES = WORK / "classes"
COMPILE_TIMEOUT_S = 600


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the `unmanagedBase` the
    repository's build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  sbt.read_text() if sbt.is_file() else "")
    if not m:
        raise BuildError("set SPARK_HOME: no Spark jars found")
    return Path(m.group(1))


def classpath(classes=CLASSES):
    """Runtime classpath: compiled classes, the repo's resources, Spark."""
    parts = [str(classes)]
    res = ROOT / "src" / "main" / "resources"
    if res.is_dir():
        parts.append(str(res))
    parts.append(str(spark_jars() / "*"))
    return os.pathsep.join(parts)


def sources():
    repo = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not repo:
        raise BuildError(f"no program sources under {ROOT / 'src' / 'main' / 'scala'}")
    own = sorted((HERE / "src").rglob("*.scala"))
    if not own:
        raise BuildError(f"no benchmark sources under {HERE / 'src'}")
    return repo + own


def digest(files):
    h = hashlib.sha256()
    compilers = sorted(p.name for p in spark_jars().glob("scala-compiler-*.jar"))
    if not compilers:
        raise BuildError(f"no scala-compiler jar in {spark_jars()}")
    h.update("\n".join(compilers).encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile if the sources changed; return the classes directory."""
    files = sources()
    stamp = WORK / "classes.stamp"
    want = digest(files)
    if CLASSES.is_dir() and stamp.is_file() and stamp.read_text() == want:
        return CLASSES
    tmp = WORK / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    jars = str(spark_jars() / "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", jars, "-d", str(tmp)] + [str(f) for f in files]
    try:
        r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                           timeout=COMPILE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise BuildError("scalac timed out")
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + (r.stdout + r.stderr)[-4000:])
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    stamp.write_text(want)
    return CLASSES


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
