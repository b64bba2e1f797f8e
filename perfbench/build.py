"""Build file of the benchmark.

Compiles graft's main sources (`src/main/scala`) together with the
benchmark harness (`perfbench/src`) into `.bench_build/classes`, using the
Scala compiler that ships in Spark's jar directory (`$SPARK_HOME/jars`) --
the same jars graft's own build compiles against. The build is skipped
when no source changed since the last one.

Run from the root of a checkout:  python3 perfbench/build.py
"""
import glob
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

BUILD = pathlib.Path(".bench_build")
SOURCE_DIRS = [pathlib.Path("src/main/scala"), pathlib.Path("perfbench/src")]


def spark_jars() -> str:
    """Spark's jar directory: $SPARK_HOME/jars, else that of the first
    spark-submit on PATH whose installation ships the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep) if d]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("build: no Spark jar directory with a Scala compiler; set SPARK_HOME")


def sources() -> list:
    files = []
    for d in SOURCE_DIRS:
        if not d.is_dir():
            raise SystemExit(f"build: source directory {d} is missing")
        files += sorted(d.rglob("*.scala"))
    return files


def build() -> pathlib.Path:
    """Compile if needed; return the classes directory."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    classes = BUILD / "classes"
    if (classes / ".stamp").is_file() and (classes / ".stamp").read_text() == stamp:
        return classes
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cp = os.path.join(spark_jars(), "*")
    print(f"build: compiling {len(files)} Scala files", file=sys.stderr, flush=True)
    subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", str(tmp), "-classpath", cp, "@" + str(argfile)],
        check=True, stdout=sys.stderr)
    (tmp / ".stamp").write_text(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    return classes


if __name__ == "__main__":
    print(build())
