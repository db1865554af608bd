"""Build file of the benchmark: compiles the library (`src/main/scala`) and
the benchmark's own Scala sources (`graftbench/scala`) with the Scala
compiler that ships in Spark's jar directory, into `.bench_build/graftbench`.

No sbt and no dependency resolution: the classpath is Spark's jar directory
(`$SPARK_HOME/jars`, or the one beside `spark-submit` on PATH), the same
jars the root build.sbt compiles against.
The build is skipped when a stamp of every source file's path, size and
content hash matches the last build.

    python3 graftbench/build.py        # prints the classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "graftbench")
LIB = os.path.join(ROOT, "src", "main")


def spark_home():
    """$SPARK_HOME, else the first `spark-submit` on PATH that sits in a Spark
    installation (a `jars` directory beside its `bin`)."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.realpath(d))
        if os.path.exists(os.path.join(d, "spark-submit")) and \
                os.path.isdir(os.path.join(home, "jars")):
            return home
    return ""


JARS = os.path.join(spark_home(), "jars")

# The JDK 17 module opens Spark needs outside spark-submit (the root
# build.sbt's list, from org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def sources():
    for base in (os.path.join(LIB, "scala"), os.path.join(HERE, "scala")):
        for d, _, fs in os.walk(base):
            for f in fs:
                if f.endswith(".scala"):
                    yield os.path.join(d, f)


def stamp(files):
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    return os.path.join(OUT, "classes") + os.pathsep + os.path.join(JARS, "*")


def build(log=sys.stderr):
    """Compile if any source changed; return the runtime classpath."""
    if not os.path.isdir(os.path.join(LIB, "scala")):
        raise SystemExit(f"library sources not found under {LIB}")
    if not os.path.isdir(JARS):
        raise SystemExit(f"Spark jars not found at {JARS}")
    files = list(sources())
    want = stamp(files)
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return classpath()
    classes = os.path.join(OUT, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    print(f"[graftbench] compiling {len(files)} Scala files", file=log, flush=True)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
         f"-Djava.io.tmpdir={OUT}", "-cp", os.path.join(JARS, "*"),
         "scala.tools.nsc.Main", "-nowarn", "-d", classes,
         "-classpath", os.path.join(JARS, "*"), "@" + argfile],
        check=True, stdout=log, stderr=log)
    resources = os.path.join(LIB, "resources")
    if os.path.isdir(resources):
        shutil.copytree(resources, classes, dirs_exist_ok=True)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return classpath()


if __name__ == "__main__":
    print(build())
