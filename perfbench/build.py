"""Build file of the benchmark: compiles the program's Scala sources and the
benchmark harness with the Scala compiler that ships among Spark's jars.

    python3 perfbench/build.py            # build into .bench_build (or $CARGO_TARGET_DIR)

Nothing is fetched: the compiler, the Scala library and Spark all come from
the jars directory of the installed Spark ($SPARK_HOME/jars, or the one next
to `spark-submit` on PATH). A build is reused while the sources are unchanged.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    found = shutil.which("java")
    if not found:
        raise BuildError("no java on PATH and no JAVA_HOME")
    return found


def spark_jars():
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    for c in candidates:
        if glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    raise BuildError("Spark jars not found: set SPARK_HOME")


def scala_files(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def compiler_cp(jars):
    picked = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        hits = sorted(glob.glob(os.path.join(jars, name + "-2.*.jar")))
        if not hits:
            raise BuildError(f"{name} jar not found in {jars}")
        picked.append(hits[-1])
    return os.pathsep.join(picked)


def scalac(java, jars, classpath, out, files):
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cmd = [java, "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler_cp(jars),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath, "-d", out, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])


def ensure_built():
    """Returns (java, runtime classpath), compiling first if sources changed."""
    if not os.path.isdir(PROGRAM_SRC) or not scala_files(PROGRAM_SRC):
        raise BuildError(f"program sources not found under {PROGRAM_SRC}")
    java = java_bin()
    jars = spark_jars()
    program, harness = scala_files(PROGRAM_SRC), scala_files(HARNESS_SRC)
    digest = hashlib.sha256(compiler_cp(jars).encode())
    for f in program + harness:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    out = build_dir()
    program_out = os.path.join(out, "classes", "program")
    harness_out = os.path.join(out, "classes", "perfbench")
    stamp_file = os.path.join(out, "classes", "stamp")
    spark_cp = os.path.join(jars, "*")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        if os.path.exists(stamp_file):
            os.remove(stamp_file)
        scalac(java, jars, spark_cp, program_out, program)
        scalac(java, jars, os.pathsep.join([program_out, spark_cp]), harness_out, harness)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return java, os.pathsep.join([harness_out, program_out, spark_cp])


if __name__ == "__main__":
    try:
        ensure_built()
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
    print("built in", build_dir())
