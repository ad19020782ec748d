"""Build file of the benchmark: compiles the program's sources
(`src/main/scala`) together with the harness (`perfbench/scala`) into
`.bench_build/classes` with the Scala compiler that ships in Spark's jar
directory, the same jars the repo's own build compiles against.

The build is skipped when a stamp of every source file's content
matches the last build.  Spark's jar directory is `$SPARK_HOME/jars`, or
the `unmanagedBase` that `build.sbt` names.

    python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"
SOURCES = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "scala"]
MAIN = "perfbench.Main"


class BuildError(RuntimeError):
    pass


def jar_dir():
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
    if m and Path(m.group(1)).is_dir():
        return Path(m.group(1))
    raise BuildError("no Spark jar directory: set SPARK_HOME")


def sources():
    files = []
    for d in SOURCES:
        if not d.is_dir():
            raise BuildError(f"missing source directory {d.relative_to(ROOT)}")
        files += sorted(d.rglob("*.scala"))
    return files


def classpath(jars):
    return os.pathsep.join([str(OUT / "classes"), str(jars / "*")])


def ensure():
    """Compile if the sources changed; return the runtime classpath."""
    jars = jar_dir()
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    stamp, classes = OUT / "classes.stamp", OUT / "classes"
    if stamp.is_file() and stamp.read_text() == digest.hexdigest() and classes.is_dir():
        return classpath(jars)
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss16m", "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(classes), f"@{argfile}"]
    try:
        # scalac's default classpath is the working directory: run it
        # from the output directory, where no source tree can shadow a
        # package
        done = subprocess.run(cmd, cwd=OUT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                              text=True, timeout=800)
    except subprocess.TimeoutExpired:
        raise BuildError("scalac timed out")
    if done.returncode != 0:
        raise BuildError("scalac failed:\n" + done.stdout[-4000:])
    stamp.write_text(digest.hexdigest())
    return classpath(jars)


if __name__ == "__main__":
    try:
        print(ensure())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
