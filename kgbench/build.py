"""Build file of the benchmark: compiles the engine's sources together with
the benchmark's own with the Scala compiler that ships in Spark's jar
directory, so no build tool or network is needed.

    python3 kgbench/build.py        # from the repository root

Classes go to .bench_build/kgbench/classes and are rebuilt only when a
source file or this file changes (a content hash is kept beside them).
"""
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = os.path.join(".bench_build", "kgbench")
CLASSES = os.path.join(BUILD_DIR, "classes")
STAMP = CLASSES + ".stamp"
ENGINE_SOURCES = os.path.join("src", "main", "scala")
ENGINE_RESOURCES = os.path.join("src", "main", "resources")
BENCH_SOURCES = os.path.join("kgbench", "src")

# Spark 4 on JDK 17 needs these when a session is made outside
# spark-submit (the same list the repository's build.sbt passes).
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the one beside the
    spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("java not found: set JAVA_HOME or put java on PATH")
    return exe


def java_opens():
    return [a for p in JAVA_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]


def _sources():
    found = []
    for top in (ENGINE_SOURCES, BENCH_SOURCES):
        if not os.path.isdir(top):
            raise BuildError("missing source directory %s (run from the repository root)" % top)
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def _stamp(sources, jars):
    h = hashlib.sha256()
    for path in sources + [os.path.join("kgbench", "build.py")]:
        h.update(path.encode())
        with open(path, "rb") as f:
            h.update(f.read())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def classpath():
    """Runtime classpath of the built benchmark."""
    return os.pathsep.join([CLASSES, ENGINE_RESOURCES, os.path.join(spark_jars(), "*")])


def current_stamp():
    with open(STAMP) as f:
        return f.read().strip()


def ensure_built(log=sys.stderr):
    """Compiles if the sources changed since the last build; returns
    whether it compiled."""
    jars = spark_jars()
    sources = _sources()
    stamp = _stamp(sources, jars)
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                return False
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    # no perf-data file: the build writes nothing outside the tree
    cmd = [java(), "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", tmp] + sources
    print("kgbench: compiling %d sources" % len(sources), file=log)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("compile failed:\n" + r.stdout[-4000:])
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as f:
        f.write(stamp + "\n")
    return True


if __name__ == "__main__":
    try:
        ensure_built()
    except BuildError as e:
        print("kgbench: %s" % e, file=sys.stderr)
        sys.exit(2)
