"""Build file of the benchmark package.

Compiles the engine's sources (src/main/scala, plus src/main/resources)
together with the benchmark's own (perfbench/src) into one class
directory, with the Scala compiler that ships in Spark's jar directory and
against Spark's jars, the same compile classpath as the repository's
build.sbt. The output goes to .bench_build/classes-<hash> in the checkout,
keyed by a hash of every input file, so an unchanged tree is built once.

    python3 perfbench/build.py        # prints the class directory
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
SCALA = "2.13.17"


class BuildError(Exception):
    pass


def spark_home():
    """SPARK_HOME, or the installation that spark-submit on PATH belongs to."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if not submit:
        raise BuildError("no Spark installation: set SPARK_HOME")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def spark_jars():
    jars = os.path.join(spark_home(), "jars")
    compiler = [os.path.join(jars, f"scala-{m}-{SCALA}.jar")
                for m in ("compiler", "library", "reflect")]
    if not all(os.path.isfile(j) for j in compiler):
        raise BuildError(f"no Scala {SCALA} compiler jars under {jars}")
    return jars, compiler


def _files(top, suffix=""):
    out = []
    for d, _, names in os.walk(top):
        out += [os.path.join(d, n) for n in names if n.endswith(suffix)]
    return sorted(out)


def inputs():
    engine = _files(os.path.join(ROOT, "src", "main", "scala"), ".scala")
    if not engine:
        raise BuildError("no engine sources under src/main/scala: "
                         "run from the root of a full checkout")
    bench = _files(os.path.join(HERE, "src"), ".scala")
    resources = _files(os.path.join(ROOT, "src", "main", "resources"))
    return engine + bench, resources


def source_hash(files):
    h = hashlib.sha256(SCALA.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(log=sys.stderr):
    """Returns the class directory, compiling it first if needed."""
    sources, resources = inputs()
    jars, compiler = spark_jars()
    out = os.path.join(BUILD_DIR, "classes-" + source_hash(sources + resources))
    if os.path.isfile(os.path.join(out, ".complete")):
        return out
    os.makedirs(BUILD_DIR, exist_ok=True)
    for d in os.listdir(BUILD_DIR):  # older builds of this checkout
        if d.startswith("classes-"):
            shutil.rmtree(os.path.join(BUILD_DIR, d), ignore_errors=True)
    tmp = out + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources) + "\n")
    print(f"compiling {len(sources)} sources into {out}", file=log, flush=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", tmp, "@" + argfile]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if p.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compile failed:\n" + p.stdout[-4000:])
    res_root = os.path.join(ROOT, "src", "main", "resources")
    for f in resources:
        dst = os.path.join(tmp, os.path.relpath(f, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    open(os.path.join(tmp, ".complete"), "w").close()
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
