"""Build file of the benchmark package.

Compiles the engine's sources (`src/main/scala`) together with the
benchmark's own (`perfbench/src`) with the Scala compiler and the jars
that ship with Spark (`$SPARK_HOME/jars`), and packs the classes into
`<build dir>/perfbench.jar`. Then it runs the self-tests once to
record the classes they load into a class-data archive, which every
benchmark JVM maps: that takes seconds off JVM and Spark start-up. A
stamp over every source file's bytes (and this file's) makes an unchanged tree a no-op.

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("perfbench: no Spark jars with a Scala compiler; set SPARK_HOME")
    return jars


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(engine, "graft")):
        raise SystemExit("perfbench: the engine's sources (src/main/scala/graft) are missing")
    files = []
    for top in (engine, os.path.join(BENCH, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def jar():
    return os.path.join(build_dir(), "perfbench.jar")


def classpath():
    return jar() + os.pathsep + os.path.join(spark_jars(), "*")


def class_archive():
    return os.path.join(build_dir(), "perfbench.jsa")


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm_command(main_class, args, archive_option="-XX:SharedArchiveFile="):
    """The command line of a benchmark JVM, mapping the class-data archive."""
    tmp = os.path.join(build_dir(), "tmp")
    os.makedirs(tmp, exist_ok=True)
    # The heap may grow to 3 GiB and is never shrunk, so the collection
    # the benchmark forces before its timed loop does not hand the loop a
    # small heap. The JVM's own logging goes to stderr so stdout keeps
    # its last line.
    cmd = ["java", "-Xmx3g", "-XX:MaxHeapFreeRatio=100", "-Xss8m", "-XX:+UseG1GC",
           archive_option + class_archive(), "-Xlog:disable", "-Xlog:all=error:stderr"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    return cmd + ["-Djava.io.tmpdir=" + tmp,
                  "-Dspark.ui.enabled=false",
                  "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
                  "-cp", classpath(), main_class] + list(args)


def build():
    """Compiles if any source changed; returns True when it compiled."""
    files = sources()
    digest = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(build_dir(), "classes.stamp")
    if (os.path.isfile(stamp) and open(stamp).read() == digest.hexdigest()
            and os.path.isfile(class_archive())):
        return False
    out = os.path.join(build_dir(), "classes")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    for stale in (stamp, jar(), class_archive()):
        if os.path.exists(stale):
            os.remove(stale)
    argfile = os.path.join(build_dir(), "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
           "-d", out, "-classpath", jars, "@" + argfile]
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise SystemExit("perfbench: compilation failed")
    with zipfile.ZipFile(jar(), "w", zipfile.ZIP_STORED) as z:
        for d, _, names in os.walk(out):
            for n in sorted(names):
                z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), out))
    train = os.path.join(build_dir(), "work", "archive-training")
    subprocess.run(jvm_command("perfbench.SelfTest", [train], "-XX:ArchiveClassesAtExit="),
                   cwd=ROOT, stdout=sys.stderr, timeout=600)
    if not os.path.isfile(class_archive()):
        raise SystemExit("perfbench: the class-data archive was not written")
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    return True


if __name__ == "__main__":
    build()
