"""Build file of the graft benchmark: compiles the program and the benchmark.

The program (src/main/scala) and the benchmark harness (graftbench/src)
are compiled with the Scala compiler that ships in Spark's jars, into
.bench_build/<digest>/ at the root of the checkout. The digest covers
every source file, so an unchanged tree is built once and reused.

Usage: python3 graftbench/build.py   (prints the classpath it built)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD_DIR = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """The jar directory the program's build.sbt names, else $SPARK_HOME/jars."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m:
        jar_dir = m.group(1)
    elif "SPARK_HOME" in os.environ:
        jar_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        raise SystemExit("build.sbt names no unmanagedBase jar directory; set SPARK_HOME")
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not jars:
        raise SystemExit(f"no Spark jars under {jar_dir}")
    return jars


def sources(subdir):
    return sorted(glob.glob(os.path.join(ROOT, subdir, "**", "*.scala"), recursive=True))


def _scalac(classpath, out, srcs):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(spark_jars()),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath, "-d", out] + srcs
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit(f"compile failed ({len(srcs)} files into {out})")


def build():
    """Compile if needed; return the runtime classpath as a list."""
    main, bench = sources("src/main/scala"), sources("graftbench/src")
    if not main:
        raise SystemExit(f"no program sources under {ROOT}/src/main/scala")
    h = hashlib.sha256()
    for f in main + bench:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(BUILD_DIR, h.hexdigest()[:16])
    main_out, bench_out = os.path.join(out, "main"), os.path.join(out, "bench")
    if not os.path.exists(os.path.join(out, "OK")):
        if os.path.isdir(BUILD_DIR):
            shutil.rmtree(BUILD_DIR)  # older trees: keep one build only
        jars = os.pathsep.join(spark_jars())
        _scalac(jars, main_out, main)
        _scalac(os.pathsep.join([jars, main_out]), bench_out, bench)
        open(os.path.join(out, "OK"), "w").close()
    return [bench_out, main_out] + spark_jars()


if __name__ == "__main__":
    print(os.pathsep.join(build()))
