"""Build step of the benchmark.

Compiles the program (the repository's ``src/main/scala``) together with the
benchmark harness (``perfbench/src``) into ``.bench_build/graftbench.jar``
with the Scala compiler that ships among the Spark jars: ``$SPARK_HOME/jars``,
or else the ``unmanagedBase`` the repository's ``build.sbt`` compiles against,
the same jars the program runs on. A build is skipped when no source file
changed since the last one.

    python3 perfbench/build.py        # build, print the classpath
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
OUT = os.path.join(ROOT, ".bench_build")
JAR = os.path.join(OUT, "graftbench.jar")
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    if "SPARK_HOME" in os.environ:
        where = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                              f.read())
        except OSError:
            m = None
        if not m:
            raise BuildError("set SPARK_HOME: no unmanagedBase in build.sbt")
        where = m.group(1)
    jars = sorted(glob.glob(os.path.join(where, "*.jar")))
    if not jars:
        raise BuildError(f"no Spark jars under {where}")
    return jars


def sources():
    program = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(program):
        raise BuildError(f"program sources not found: {program}")
    found = []
    for base in (program, os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def _stamp(srcs, jars):
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()


def java_cmd(classpath, work, args):
    """The benchmark's JVM command line: the harness main with ``args``."""
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss4m",
             "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
             f"-Djava.io.tmpdir={work}"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", os.pathsep.join(classpath), "graftbench.Main"] + args)


def _compile(srcs, jars):
    classes = os.path.join(OUT, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    argfile = os.path.join(OUT, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(["-nowarn", "-classpath", os.pathsep.join(jars),
                           "-d", classes] + srcs))
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
         "scala.tools.nsc.Main", "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    with zipfile.ZipFile(JAR + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(classes):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    os.replace(JAR + ".tmp", JAR)
    shutil.rmtree(classes)


def ensure():
    """Build if needed; return the runtime classpath as a list."""
    srcs = sources()
    jars = spark_jars()
    os.makedirs(OUT, exist_ok=True)
    classpath = [JAR] + jars
    stamp_file = os.path.join(OUT, "build.stamp")
    stamp = _stamp(srcs, jars)
    if os.path.exists(JAR) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return classpath
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    _compile(srcs, jars)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


if __name__ == "__main__":
    try:
        print(os.pathsep.join(ensure()))
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
