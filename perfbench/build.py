"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark harness (perfbench/src) with the Scala compiler that ships
in Spark's jar directory, into the build directory. Rebuilds only when a
source file changed.

    python3 perfbench/build.py        # from the repository root
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

SCALA_JARS = ("scala-compiler", "scala-library", "scala-reflect")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    that build.sbt compiles against, else next to spark-submit on PATH."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    if os.path.exists("build.sbt"):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
        if m:
            candidates.append(m.group(1))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(os.path.dirname(os.path.realpath(submit)), "..", "jars"))
    for jars in candidates:
        if os.path.isdir(jars):
            return jars
    raise SystemExit(f"perfbench: no Spark jar directory among {candidates}")


def build_dir():
    return os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def sources(root):
    found = sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))
    if not found:
        raise SystemExit(f"perfbench: no Scala sources under {root}")
    return found


def compile_into(out, srcs, classpath, log):
    jars = spark_jars()
    compiler_cp = os.pathsep.join(
        p for p in sorted(glob.glob(os.path.join(jars, "*.jar")))
        if os.path.basename(p).startswith(SCALA_JARS))
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.abspath(os.path.dirname(out)),
           "-cp", compiler_cp, "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", out, "-classpath", classpath] + srcs
    with open(log, "ab") as f:
        r = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed, see {log}")


def build():
    """Returns the classpath that runs the harness."""
    out = build_dir()
    program_srcs = sources(os.path.join("src", "main", "scala"))
    bench_srcs = sources(os.path.join("perfbench", "src"))
    digest = hashlib.sha256()
    for p in program_srcs + bench_srcs:
        digest.update(p.encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    stamp = os.path.join(out, "stamp")
    program = os.path.join(out, "program")
    harness = os.path.join(out, "harness")
    jars_cp = os.path.join(spark_jars(), "*")
    classpath = os.pathsep.join([harness, program, jars_cp])
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classpath
    t0 = time.time()
    for d in (program, harness):
        subprocess.run(["rm", "-rf", d], check=True)
    os.makedirs(out, exist_ok=True)
    log = os.path.join(out, "build.log")
    open(log, "w").close()
    compile_into(program, program_srcs, jars_cp, log)
    compile_into(harness, bench_srcs, os.pathsep.join([program, jars_cp]), log)
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return classpath


if __name__ == "__main__":
    build()
