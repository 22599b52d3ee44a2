"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's JVM harness (perfbench/src) into one class directory with
the Scala compiler that ships in the Spark jars.

A stamp over every source file skips the compile when nothing changed.

    python3 perfbench/build.py        # prints the class directory
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CLASSES = os.path.join(WORK, "classes")
SCALA = "2.13.17"

# Spark on JDK 17 needs these when the session is created outside
# spark-submit (the list build.sbt passes to forked runs).
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def sources():
    files = glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                      recursive=True)
    files += glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
    return sorted(files)


def spark_jars():
    """The jar directory the project's own build compiles against
    (`unmanagedBase` in build.sbt), else $SPARK_HOME/jars."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    return m.group(1) if m else os.path.join(os.environ["SPARK_HOME"], "jars")


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def stamp():
    """Digest of every source file the build compiles."""
    h = hashlib.sha256(SCALA.encode())
    for s in sources():
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(quiet=False):
    """Compile if any source changed; return the class directory."""
    srcs = sources()
    if not any(s.startswith(os.path.join(ROOT, "src")) for s in srcs):
        raise SystemExit("perfbench: no program sources under src/main/scala")
    digest = stamp()
    stamp_file = os.path.join(WORK, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == digest:
        return CLASSES
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    subprocess.run(["rm", "-rf", CLASSES], check=True)
    os.makedirs(CLASSES)
    jars = spark_jars()
    compiler = os.pathsep.join(os.path.join(jars, f"scala-{j}-{SCALA}.jar")
                               for j in ("compiler", "library", "reflect"))
    argfile = os.path.join(WORK, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
         "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", CLASSES,
         "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise SystemExit("perfbench: compile failed")
    if not quiet:
        sys.stderr.write(r.stdout)
    with open(stamp_file, "w") as f:
        f.write(digest)
    return CLASSES


if __name__ == "__main__":
    print(build())
