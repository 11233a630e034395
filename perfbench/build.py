"""Build file of the benchmark: compiles the engine (`src/main/scala`)
and the benchmark harness (`perfbench/harness`) with the Scala compiler
that ships in Spark's jar directory into one `engine.jar`, under a
directory named by a digest of every source file, then runs the
harness self-test once to dump a class-data sharing archive beside it.
A build is reused while no source changes; nothing outside the build
directory is written.

    python3 perfbench/build.py            # prints the build directory
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ARCHIVE = "classes.jsa"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars(root=ROOT):
    """Spark's jar directory: `$SPARK_HOME/jars`, or else the
    `unmanagedBase` that the sbt build compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        found = None
    if not found:
        raise BuildError("set SPARK_HOME: build.sbt names no unmanagedBase")
    return found.group(1)


class BuildError(Exception):
    pass


def build_dir(root=ROOT):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources(root=ROOT):
    engine = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not engine:
        raise BuildError("no engine sources under src/main/scala: run from the root of a checkout")
    harness = sorted(glob.glob(os.path.join(root, "perfbench/harness/*.scala")))
    if not harness:
        raise BuildError("no harness sources under perfbench/harness")
    return engine + harness


def scala_jars(jar_dir):
    jars = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        found = sorted(glob.glob(os.path.join(jar_dir, name + "-2.13.*.jar")))
        if not found:
            raise BuildError("%s not found in %s" % (name, jar_dir))
        jars.append(found[-1])
    return jars


def build(root=ROOT):
    """Returns the build directory for the current sources, holding
    `engine.jar` and its class-data sharing archive, building both first
    if they do not exist yet."""
    srcs = sources(root)
    jar_dir = spark_jars(root)
    compiler = scala_jars(jar_dir)
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            digest.update(hashlib.sha256(f.read()).digest())
    for jar in compiler:
        digest.update(os.path.basename(jar).encode())
    out = os.path.join(build_dir(root), "engine-" + digest.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".complete")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.path.join(jar_dir, "*"), "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    # class-data sharing only reads classes from jars
    with zipfile.ZipFile(os.path.join(out, "engine.jar"), "w", zipfile.ZIP_DEFLATED) as jar:
        for d, _, files in sorted(os.walk(classes)):
            for name in sorted(files):
                path = os.path.join(d, name)
                jar.write(path, os.path.relpath(path, classes))
    shutil.rmtree(classes)
    os.remove(argfile)
    # The archive of the classes a Spark session loads cuts each run's JVM
    # and session start by several seconds. It records the jar paths, so it
    # is dumped from the final location, by one run of the self-test.
    train = os.path.join(out, "train")
    os.makedirs(train)
    proc = subprocess.run(
        jvm_command(out, "perfbench.SelfTest", [
            "-Xmx1g", "-XX:ArchiveClassesAtExit=" + os.path.join(out, ARCHIVE),
            "-Djava.io.tmpdir=" + train, "-Dspark.local.dir=" + train,
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")], root),
        cwd=train, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    shutil.rmtree(train, ignore_errors=True)
    if proc.returncode != 0 or "SELFTEST OK" not in proc.stdout:
        shutil.rmtree(out, ignore_errors=True)
        raise BuildError("harness self-test failed:\n" + proc.stdout[-4000:])
    open(os.path.join(out, ".complete"), "w").close()
    return out


def jvm_command(out, main, options, root=ROOT):
    """The java command that runs `main` from the build in `out`, with the
    module openings Spark needs on JDK 17 and the build's class-data
    sharing archive once it exists."""
    cmd = ["java"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    archive = os.path.join(out, ARCHIVE)
    if os.path.isfile(archive):
        cmd.append("-XX:SharedArchiveFile=" + archive)
    classpath = [os.path.join(out, "engine.jar"), os.path.join(spark_jars(root), "*")]
    return cmd + options + ["-cp", os.pathsep.join(classpath), main]


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.stderr.write("build failed: %s\n" % e)
        sys.exit(2)
