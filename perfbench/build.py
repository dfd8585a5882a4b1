#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the harness (perfbench/src) with the Scala compiler that ships with Spark
into .bench_build/perfbench.jar at the repository root, then records a
class-data-sharing archive of the classes one cold pass over every
workload's code loads. Every benchmark JVM starts from that archive and
refuses to start without it: on a 4-core host it cuts a run's set-up from
24-28 s to 15-16 s (ingest_bulk), which the time budget of a full
comparison needs. A stamp of the sources, the Spark jars, the JVM and the
checkout's path skips all of this when nothing changed.

Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys
import zipfile

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build"

# Spark 4 on JDK 17 needs these when a SparkSession is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

CDS_ARCHIVE = OUT / "perfbench.jsa"


class BuildError(Exception):
    pass


def spark_jars():
    """The directory of Spark's jars: $SPARK_HOME/jars, else next to the
    spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(pathlib.Path(submit).resolve().parent.parent)
    jars = pathlib.Path(home or "") / "jars"
    if not home or not jars.is_dir():
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return jars


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise BuildError(f"program sources not found under {main}")
    found = sorted(main.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    return found


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    # the archive only maps into the JVM and class path it was recorded with
    java = pathlib.Path(shutil.which("java") or "java").resolve()
    h.update(f"{java} {ROOT}".encode())
    return h.hexdigest()


def build():
    """Compiles if needed and returns the jar of the program and harness."""
    jars = spark_jars()
    files = sources()
    jar = OUT / "perfbench.jar"
    want = stamp(files, jars)
    stamp_file = OUT / "perfbench.stamp"
    if jar.is_file() and stamp_file.is_file() and stamp_file.read_text() == want:
        return jar
    compiler = [glob.glob(str(jars / f"{n}-2.13.*.jar"))
                for n in ("scala-compiler", "scala-library", "scala-reflect")]
    if not all(compiler):
        raise BuildError(f"no Scala 2.13 compiler in {jars}")
    stamp_file.unlink(missing_ok=True)
    CDS_ARCHIVE.unlink(missing_ok=True)
    classes = OUT / f"classes-{os.getpid()}"
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = OUT / f"sources-{os.getpid()}.txt"
    argfile.write_text("\n".join(str(f) for f in files))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp",
           os.pathsep.join(c[0] for c in compiler), "scala.tools.nsc.Main",
           "-d", str(classes), "-classpath", str(jars / "*"), "-nowarn",
           "@" + str(argfile)]
    print(f"[perfbench] compiling {len(files)} sources", file=sys.stderr)
    try:
        done = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr,
                              timeout=840)
        if done.returncode != 0:
            raise BuildError("scalac failed")
        tmp_jar = OUT / f"perfbench-{os.getpid()}.jar"
        with zipfile.ZipFile(tmp_jar, "w", zipfile.ZIP_STORED) as z:
            for f in sorted(classes.rglob("*")):
                if f.is_file():
                    z.write(f, f.relative_to(classes).as_posix())
        tmp_jar.replace(jar)
    finally:
        argfile.unlink(missing_ok=True)
        shutil.rmtree(classes, ignore_errors=True)
    train_cds(jar)
    stamp_file.write_text(want)
    return jar


def train_cds(jar):
    """Runs the harness's training mode and records, at its exit, the
    class-data-sharing archive. The build fails without it."""
    print("[perfbench] recording the class-data-sharing archive", file=sys.stderr)
    cmd = java_command(jar, "perfbench.Main", ["--mode", "train",
                                                 "--bench-dir", str(HERE)],
                       archive=False)
    cmd.insert(1, f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}")
    try:
        done = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr,
                              stderr=sys.stderr, timeout=300)
    except subprocess.TimeoutExpired:
        raise BuildError("recording the class-data-sharing archive timed out")
    if done.returncode != 0 or not CDS_ARCHIVE.is_file():
        CDS_ARCHIVE.unlink(missing_ok=True)
        raise BuildError("recording the class-data-sharing archive failed")


def java_command(jar, main, args, archive=True):
    """The JVM command line that runs `main` from the built jar, mapping
    the class-data-sharing archive (-Xshare:on: no archive, no start)."""
    opens = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    tmp = OUT / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cds = (["-Xshare:on", f"-XX:SharedArchiveFile={CDS_ARCHIVE}"]
           if archive else [])
    # no hsperfdata file in the system temp directory
    return (["java", "-XX:-UsePerfData", "-Xmx3g", *opens, *cds,
             "-Xlog:disable",
             "-Duser.timezone=UTC",
             f"-Djava.io.tmpdir={tmp}",
             # deep enough for SessionMemo.apply to show in job call sites
             "-Dspark.callstack.depth=100",
             f"-Dlog4j.configurationFile={HERE / 'log4j2.properties'}",
             "-cp", os.pathsep.join([str(jar), str(spark_jars() / "*")]),
             main, *args])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
