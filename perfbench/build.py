"""Build step of the benchmark: compiles graft's sources (src/main/scala of
the checkout) and the benchmark's own sources (perfbench/src) with the
Scala compiler that ships in Spark's jars directory. Each output directory
carries a stamp of its inputs, so a second run reuses the classes.

    python3 perfbench/build.py        # prints the run classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler*.jar")):
        raise BuildError("no Spark installation with a Scala compiler found "
                         "(set SPARK_HOME or put spark-submit on PATH)")
    return jars


def _sources(*dirs):
    files = []
    for d in dirs:
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def _stamp(files, extra):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _compile(name, src_dirs, classpath, jars, resources=None):
    files = _sources(*src_dirs)
    if not files:
        raise BuildError(f"no Scala sources under {', '.join(src_dirs)}")
    out = os.path.join(OUT, name)
    stamp = _stamp(files, classpath + "|" + os.path.realpath(jars))
    stamp_file = out + ".stamp"
    if os.path.isdir(out) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    shutil.rmtree(out, ignore_errors=True)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    os.makedirs(out)
    args_file = out + ".args"
    with open(args_file, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", classpath, "@" + args_file]
    print(f"[perfbench] compiling {name} ({len(files)} files)", file=sys.stderr)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(args_file)
    if proc.returncode != 0:
        raise BuildError(f"compiling {name} failed:\n{proc.stdout[-4000:]}")
    if resources and os.path.isdir(resources):
        shutil.copytree(resources, out, dirs_exist_ok=True)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return out


def build():
    """Compile what is stale and return the classpath to run with."""
    program_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(program_src):
        raise BuildError(f"graft sources not found at {program_src}: run from a checkout "
                         "of the repository")
    jars = spark_jars()
    spark_cp = os.path.join(jars, "*")
    program = _compile("program", [program_src], spark_cp, jars,
                       resources=os.path.join(ROOT, "src", "main", "resources"))
    harness = _compile("harness", [os.path.join(HERE, "src")],
                       program + os.pathsep + spark_cp, jars)
    return os.pathsep.join([harness, program, spark_cp])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"[perfbench] {e}")
