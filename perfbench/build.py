"""Build file of the benchmark: compiles the program (src/main/scala of the
checkout) together with the benchmark's JVM side (perfbench/jvm) with the
Scala compiler that ships in Spark's jar directory, into the build directory
(`$CARGO_TARGET_DIR`, default `.bench_build`). A stamp over every source
file skips the compile when nothing changed.

Usage: python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SRC = os.path.join(ROOT, "src", "main", "scala")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
JVM_SRC = os.path.join(HERE, "jvm")


class BuildError(Exception):
    pass


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return jars


def scala_sources():
    if not os.path.isdir(SRC):
        raise BuildError(f"no program sources at {os.path.relpath(SRC, ROOT)}")
    out = []
    for base in (SRC, JVM_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def classpath():
    """Run-time classpath of the built benchmark."""
    return os.pathsep.join([os.path.join(build_dir(), "classes"), RESOURCES,
                            os.path.join(spark_jars(), "*")])


def build():
    jars = spark_jars()
    srcs = scala_sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    out = build_dir()
    stamp_file = os.path.join(out, "stamp")
    classes = os.path.join(out, "classes")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    compiler = [os.path.join(jars, f) for f in sorted(os.listdir(jars))
                if f.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise BuildError("Scala compiler jars not found in Spark's jar directory")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}",
           "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", classes, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("compile failed:\n" + r.stdout[-4000:])
    with open(stamp_file, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
