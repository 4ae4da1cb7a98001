"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark's JVM side (`perfbench/scala`) into `.bench_build/classes`.

It uses the Scala compiler that ships in Spark's jars, so it needs only a
JDK and a Spark distribution: `$SPARK_HOME`, or else the jar directory the
sbt build names as its `unmanagedBase`. A digest of every source file is
stored beside the classes; an unchanged tree is not compiled again.

    python3 perfbench/build.py
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
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = ROOT / "build.sbt"
    found = sbt.exists() and re.search(r'unmanagedBase := file\("([^"]+)"\)', sbt.read_text())
    if not found:
        raise BuildError("set SPARK_HOME to a Spark distribution")
    return Path(found.group(1))


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def classpath() -> str:
    return f"{CLASSES}{os.pathsep}{spark_jars() / '*'}"


def sources() -> list:
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not engine:
        raise BuildError(f"no engine sources under {ROOT / 'src' / 'main' / 'scala'}")
    return engine + sorted((HERE / "scala").rglob("*.scala"))


def build() -> Path:
    """Compile if the sources changed; return the classes directory."""
    srcs = sources()
    jars = spark_jars()
    if not list(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler in {jars}")
    digest = hashlib.sha256()
    for jar in sorted(p.name for p in jars.glob("*.jar")):
        digest.update(jar.encode())
    for src in srcs:
        digest.update(str(src.relative_to(ROOT)).encode())
        digest.update(src.read_bytes())
    stamp = CLASSES / ".digest"
    if stamp.exists() and stamp.read_text() == digest.hexdigest():
        return CLASSES
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("".join(f'"{s}"\n' for s in srcs))
    # -XX:-UsePerfData: the JVM writes nothing under the system temp dir
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", str(jars / "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp), "-cp", str(jars / "*"),
           f"@{argfile}"]
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if done.returncode != 0:
        raise BuildError("scalac failed:\n" + done.stdout[-4000:])
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    stamp.write_text(digest.hexdigest())
    return CLASSES


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
