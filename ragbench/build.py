#!/usr/bin/env python3
"""Build the benchmark: compile the library sources (src/main) together with
the benchmark sources (ragbench/src) using the Scala compiler that ships in
Spark's jars directory, the same compiler version the repo's build.sbt pins.

Output goes to .bench_build/ragbench-<hash>/classes at the checkout root,
keyed by a hash of every input, so an unchanged tree is built once.

    python3 ragbench/build.py        # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
LIB_SRC = ROOT / "src" / "main" / "scala"
LIB_RES = ROOT / "src" / "main" / "resources"
BENCH_SRC = BENCH / "src"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(os.path.realpath(submit)).parent.parent)
    jars = Path(home or "") / "jars"
    if not home or not jars.is_dir():
        sys.exit("ragbench: no Spark jars (set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def inputs():
    if not LIB_SRC.is_dir():
        sys.exit(f"ragbench: library sources not found at {LIB_SRC.relative_to(ROOT)}")
    files = sorted(LIB_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    res = sorted(p for p in LIB_RES.rglob("*") if p.is_file()) if LIB_RES.is_dir() else []
    return files, res


def build():
    """Compile if needed; return the classes directory."""
    sources, resources = inputs()
    h = hashlib.sha256()
    for p in sources + resources + [Path(__file__).resolve()]:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    out = ROOT / ".bench_build" / f"ragbench-{h.hexdigest()[:16]}"
    classes = out / "classes"
    if classes.is_dir():
        return classes
    jars = spark_jars()
    compiler = [glob.glob(str(jars / f"scala-{n}-2.13*.jar")) for n in ("compiler", "library", "reflect")]
    if not all(compiler):
        sys.exit("ragbench: no Scala 2.13 compiler in the Spark jars")
    stage = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(stage, ignore_errors=True)
    (stage / "classes").mkdir(parents=True)
    (stage / "tmp").mkdir()
    argfile = stage / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in sources) + "\n")
    cmd = [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={stage / 'tmp'}",
           "-cp", os.pathsep.join(c[0] for c in compiler), "scala.tools.nsc.Main",
           "-nowarn", "-usejavacp:false", "-classpath", str(jars / "*"),
           "-d", str(stage / "classes"), f"@{argfile}"]
    print(f"ragbench: compiling {len(sources)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(stage, ignore_errors=True)
        sys.exit(f"ragbench: compile failed ({r.returncode})")
    for p in resources:
        dst = stage / "classes" / p.relative_to(LIB_RES)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dst)
    shutil.rmtree(stage / "tmp")
    try:
        os.rename(stage, out)
    except OSError:  # another build of the same tree finished first
        shutil.rmtree(stage, ignore_errors=True)
    return classes


if __name__ == "__main__":
    print(build())
