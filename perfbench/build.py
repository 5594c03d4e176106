"""Build file of the benchmark: compiles the engine (src/main/scala) and the
harness (perfbench/src) with the Scala compiler that ships in Spark's jars
directory, packs the classes into .bench_build/perfbench.jar, and records a
JVM class-data archive of one warmed-up set-up (.bench_build/perfbench.jsa),
which roughly halves each run's cold JVM start. A stamp of every source's
bytes skips all of it when nothing changed.

    python3 perfbench/build.py
"""
import hashlib
import os
import subprocess
import sys
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
JAR = os.path.join(BUILD, "perfbench.jar")
ARCHIVE = os.path.join(BUILD, "perfbench.jsa")
STAMP = os.path.join(BUILD, "build.stamp")
DATA = os.path.join("perfbench", "data", "sf0.01")

# Spark on JDK 17 outside spark-submit needs these (the same list as the
# repo's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else the pyspark package's."""
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
    raise SystemExit("perfbench: no Spark jars found (set SPARK_HOME)")


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")]
    for r in roots:
        if not os.path.isdir(r):
            raise SystemExit(f"perfbench: missing source directory {os.path.relpath(r, ROOT)}")
    out = []
    for r in roots:
        for d, _, files in os.walk(r):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def jvm(archive_flag=None):
    """The JVM command line every harness run uses, up to the main class.
    Spark's local and temp dirs and its warehouse stay under .bench_build."""
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
    if archive_flag is None and os.path.exists(ARCHIVE):
        archive_flag = f"-XX:SharedArchiveFile={ARCHIVE}"
    return [java(), "-Xmx3g", "-Xss8m", *opens,
            *([archive_flag] if archive_flag else []),
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(BUILD, 'warehouse')}",
            f"-Dderby.system.home={BUILD}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{JAR}{os.pathsep}{os.path.join(spark_jars(), '*')}"]


def harness_args(mode, work):
    return ["perfbench.Main", "--mode", mode, "--data", DATA, "--work", work,
            "--bench-dir", "perfbench"]


def build():
    """Compile, pack and record the class-data archive if any source changed."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    for old in (STAMP, JAR, ARCHIVE):
        if os.path.exists(old):
            os.remove(old)
    if os.path.isdir(CLASSES):
        subprocess.run(["rm", "-rf", CLASSES], check=True)
    os.makedirs(CLASSES)
    cp = os.path.join(jars, "*")
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = [java(), "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, files in os.walk(CLASSES):
            for f in sorted(files):
                full = os.path.join(d, f)
                z.write(full, os.path.relpath(full, CLASSES))
    # the archive only speeds start-up: a run without it is slower, not wrong
    r = subprocess.run(jvm(f"-XX:ArchiveClassesAtExit={ARCHIVE}") +
                       harness_args("train", os.path.join(".bench_build", "perfbench", "train")),
                       cwd=ROOT, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    if r.returncode != 0 and os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    with open(STAMP, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    build()
