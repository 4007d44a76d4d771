"""Build file of the benchmark: compiles the program from source.

The repository's `src/main/scala` and the harness in `perfbench/src` are
compiled together, with the Scala compiler that ships in the Spark
distribution, into `.bench_build/classes`. A build whose inputs hash the
same as the last one is reused. Run directly to build only:

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time

BUILD_DIR = ".bench_build"
PROGRAM_SOURCES = os.path.join("src", "main", "scala")
PROGRAM_RESOURCES = os.path.join("src", "main", "resources")
HARNESS_SOURCES = os.path.join("perfbench", "src")

# Spark on JDK 17 needs these when a session is created outside
# spark-submit (the same list build.sbt passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm_opens():
    return [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    jars bundled with the installed pyspark package."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        import pyspark
        jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        if os.path.isdir(jars):
            return jars
    except ImportError:
        pass
    raise SystemExit("perfbench: no Spark distribution found (set SPARK_HOME)")


def _sources():
    files = []
    for d in (PROGRAM_SOURCES, HARNESS_SOURCES):
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def _resources():
    return sorted(f for f in glob.glob(os.path.join(PROGRAM_RESOURCES, "**", "*"),
                                       recursive=True) if os.path.isfile(f))


def source_hash():
    h = hashlib.sha256()
    for f in _sources() + _resources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile if needed; returns (classes dir, seconds spent, source hash)."""
    if not os.path.isdir(PROGRAM_SOURCES) or not os.path.isdir(HARNESS_SOURCES):
        raise SystemExit(f"perfbench: run from the repository root "
                         f"({PROGRAM_SOURCES} and {HARNESS_SOURCES} not found)")
    digest = source_hash()
    classes = os.path.join(BUILD_DIR, "classes")
    stamp = os.path.join(BUILD_DIR, "classes.sha256")
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == digest:
        return classes, 0.0, digest
    t0 = time.time()
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(BUILD_DIR, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(_sources()) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
           "-cp", os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + args_file]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout)
        raise SystemExit("perfbench: compilation failed")
    for f in _resources():
        dst = os.path.join(tmp, os.path.relpath(f, PROGRAM_RESOURCES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(digest)
    return classes, time.time() - t0, digest


if __name__ == "__main__":
    os.makedirs(BUILD_DIR, exist_ok=True)
    out, secs, _ = build()
    print(f"built {out} in {secs:.1f} s")
