"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark's own sources (perfbench/src) into one class directory with the
Scala compiler that ships in Spark's jars directory.

The output lives under $CARGO_TARGET_DIR (default .bench_build) in the
checkout, keyed by a hash of every source file, so a checkout builds once
and a changed source builds again.

    python3 perfbench/build.py          # build, print the class directory
"""
import hashlib
import os
import shutil
import subprocess
import sys

PROGRAM_SOURCES = os.path.join("src", "main", "scala")
BENCH_SOURCES = os.path.join("perfbench", "src")

# Spark 4 on JDK 17 needs these when a session starts outside spark-submit.
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def out_dir(root):
    base = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(root, base, "perfbench")


def spark_jars():
    """Spark's jars directory, $SPARK_HOME/jars: the program, the benchmark
    and the Scala compiler all come from there."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.environ.get("SPARK_HOME") or not os.path.isdir(jars):
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return os.path.join(jars, "*")


def sources(root):
    found = []
    for rel in (PROGRAM_SOURCES, BENCH_SOURCES):
        top = os.path.join(root, rel)
        if not os.path.isdir(top):
            raise BuildError("missing source directory %s" % top)
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build(root):
    """Return a class directory holding the compiled program and benchmark."""
    srcs = sources(root)
    h = hashlib.sha256()
    for path in srcs + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    out = out_dir(root)
    classes = os.path.join(out, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".complete")):
        return classes
    os.makedirs(out, exist_ok=True)
    for stale in os.listdir(out):
        if stale.startswith("classes-"):
            shutil.rmtree(os.path.join(out, stale), ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    jars = spark_jars()
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-classpath", jars, "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, timeout=800)
    if res.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        raise BuildError("compile failed:\n" + res.stdout[-4000:])
    open(os.path.join(classes, ".complete"), "w").close()
    return classes


def java_command(classes, work, heap="3g"):
    opens = []
    for p in JDK17_OPENS:
        opens += ["--add-opens", p + "=ALL-UNNAMED"]
    # no hsperfdata files: the JVM writes nothing outside the run directory
    return (["java", "-XX:-UsePerfData", "-Xmx" + heap, "-Xss4m", "-Duser.timezone=UTC",
             "-Djava.io.tmpdir=" + work] + opens +
            ["-cp", classes + os.pathsep + spark_jars()])


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
