#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (perfbench/scala) into one class directory, with the Scala
compiler and the Spark jars that ship in $SPARK_HOME/jars. A build is
reused while no source changes (keyed by a hash of every source file).

    python3 perfbench/build.py          # prints the class directory
"""
import glob
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build" / "perfbench"


def spark_jars():
    """The jar directory of the Spark install named by SPARK_HOME, or else of
    a spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        str((pathlib.Path(d) / "spark-submit").resolve().parent.parent)
        for d in os.environ.get("PATH", "").split(os.pathsep) if (pathlib.Path(d) / "spark-submit").is_file()]
    for home in filter(None, homes):
        jars = pathlib.Path(home) / "jars"
        if glob.glob(str(jars / "scala-compiler-*.jar")):
            return str(jars / "*")
    sys.exit("perfbench: set SPARK_HOME to a Spark 4 install that holds scala-compiler")


def sources():
    program = sorted((ROOT / "src" / "main").rglob("*.scala"))
    if not program:
        sys.exit("perfbench: no program sources under src/main; run from the repository root")
    return program + sorted((ROOT / "perfbench" / "scala").glob("*.scala"))


def build():
    """Returns the class directory, compiling first when needed."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    key = h.hexdigest()[:16]
    classes = BUILD / f"classes-{key}"
    if (classes / "BUILT").exists():
        return classes
    for old in BUILD.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    tmp = BUILD / f"tmp-classes-{key}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    args = BUILD / "sources.txt"
    args.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss4m", "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", spark_jars(), f"@{args}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit(f"perfbench: compile failed ({r.returncode})")
    (tmp / "BUILT").write_text(key + "\n")
    tmp.rename(classes)
    return classes


if __name__ == "__main__":
    print(build())
