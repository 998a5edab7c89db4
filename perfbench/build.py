"""Build file of the benchmark: compiles the engine's main sources together
with the benchmark's own Scala sources into one class directory.

It calls the Scala 2.13 compiler that ships among the Spark distribution's
jars, in the directory the repository's build.sbt compiles against
(`unmanagedBase`), so the build needs neither sbt nor a dependency cache.
The output lands under `.bench_build/perfbench/<hash of the sources>/` in
the checkout, and a build is reused while no source changes.

    python3 perfbench/build.py        # prints the class directory
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ENGINE_SOURCES = ROOT / "src" / "main" / "scala"
ENGINE_RESOURCES = ROOT / "src" / "main" / "resources"
BENCH_SOURCES = ROOT / "perfbench" / "src"
BUILD_DIR = ROOT / ".bench_build" / "perfbench"


class BuildError(Exception):
    pass


def spark_jars():
    """The jar directory the repository's own build compiles against
    (`unmanagedBase` in build.sbt): Spark, Scala and the Scala compiler."""
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  sbt.read_text() if sbt.is_file() else "")
    if not m:
        raise BuildError("build.sbt names no unmanagedBase jar directory")
    jars = Path(m.group(1))
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler among the jars in {jars}")
    return jars


def sources():
    for d in (ENGINE_SOURCES, BENCH_SOURCES):
        if not d.is_dir():
            raise BuildError(f"missing source directory {d.relative_to(ROOT)}")
    files = sorted(ENGINE_SOURCES.rglob("*.scala")) + sorted(BENCH_SOURCES.rglob("*.scala"))
    if not any(f.is_relative_to(ENGINE_SOURCES) for f in files):
        raise BuildError("no engine sources to build")
    if not ENGINE_RESOURCES.is_dir():
        raise BuildError(f"missing {ENGINE_RESOURCES.relative_to(ROOT)}")
    return files


def classpath(classes):
    """Runtime class path: compiled classes, engine resources, Spark jars."""
    return os.pathsep.join([str(classes), str(ENGINE_RESOURCES), str(spark_jars() / "*")])


def build(log=sys.stderr):
    """Compiles if needed and returns the class directory."""
    files = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    out = BUILD_DIR / h.hexdigest()[:16]
    classes = out / "classes"
    if (out / "ok").exists():
        return classes
    tmp = BUILD_DIR / f"tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "classes").mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", str(jars / "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp / "classes"),
           "-classpath", str(jars / "*"), f"@{argfile}"]
    t0 = time.time()
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compile failed:\n" + r.stdout[-4000:])
    (tmp / "ok").write_text(f"{time.time() - t0:.1f}\n")
    argfile.unlink()
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    print(f"[perfbench] compiled in {time.time() - t0:.1f} s", file=log, flush=True)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        sys.exit(2)
