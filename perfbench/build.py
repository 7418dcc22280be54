"""Builds the program (src/main/scala) and the benchmark harness with the
Scala compiler that ships in the Spark distribution, into
perfbench/.work/build/<digest of the sources>. A build whose sources are
unchanged is reused.

Usage: python3 perfbench/build.py   (prints the classpath)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# the Spark distribution the program is built and run against
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


def sources(pattern):
    return sorted(glob.glob(os.path.join(ROOT, pattern), recursive=True))


def scalac(srcs, classpath, out):
    os.makedirs(out, exist_ok=True)
    compiler = os.pathsep.join(
        os.path.join(SPARK_JARS, f"scala-{m}-2.13.17.jar")
        for m in ("compiler", "library", "reflect"))
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.dirname(out)}", "-cp", compiler,
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-Ybackend-parallelism", "4", "-classpath", classpath,
           "-d", out, "@" + argfile]
    proc = subprocess.Popen(cmd, stdout=sys.stderr)
    try:
        code = proc.wait(timeout=840)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if code != 0:
        raise SystemExit(f"perfbench: scalac failed ({code})")


def build():
    """Returns (classpath of the built program + harness, build dir)."""
    main = sources("src/main/scala/**/*.scala")
    harness = sources("perfbench/harness/*.scala")
    if not main:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    if not glob.glob(os.path.join(SPARK_JARS, "spark-sql_*.jar")):
        raise SystemExit("perfbench: SPARK_HOME must name a Spark distribution")
    h = hashlib.sha256()
    for p in main + harness:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    base = os.path.join(HERE, ".work", "build", h.hexdigest()[:16])
    jars = os.path.join(SPARK_JARS, "*")
    if not os.path.isdir(base):
        # build aside, then rename: a build cut short is never reused
        tmp = f"{base}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        scalac(main, jars, os.path.join(tmp, "classes"))
        scalac(harness, os.pathsep.join([os.path.join(tmp, "classes"), jars]),
               os.path.join(tmp, "harness"))
        try:
            os.rename(tmp, base)
        except OSError:  # a concurrent build finished first
            shutil.rmtree(tmp, ignore_errors=True)
    return os.pathsep.join([os.path.join(base, "harness"),
                            os.path.join(base, "classes"), jars]), base


if __name__ == "__main__":
    print(build()[0])
