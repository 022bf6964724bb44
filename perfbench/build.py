"""Build file of the benchmark package.

Compiles the program (src/main/scala) together with the benchmark's own
Scala sources (perfbench/src) with the Scala compiler that ships among the
Spark jars named by the root build.sbt (`unmanagedBase`). The classes go to
.bench_build/classes-<hash>, keyed by a hash of every compiled file, so a
checkout builds once and an edited source builds again.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build")

# Spark 4 on JDK 17 needs these when it runs outside spark-submit; the same
# list as build.sbt's jdk17AddOpens.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    """The jar directory build.sbt compiles against."""
    path = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(path):
        raise BuildError("no build.sbt at the checkout root")
    with open(path) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise BuildError("build.sbt names no readable unmanagedBase jar directory")
    return m.group(1)


def sources():
    found = []
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    if not any(f.startswith(os.path.join(ROOT, "src")) for f in found):
        raise BuildError("no program sources under src/main/scala")
    return sorted(found)


def build():
    """Returns the runtime classpath, compiling first if needed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.join(OUT, "classes-" + h.hexdigest()[:16])
    if not os.path.isdir(classes):
        os.makedirs(OUT, exist_ok=True)
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(OUT, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        cmd = ["java", "-Xmx2g", "-Xss16m", "-cp", os.path.join(jars, "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
        if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise BuildError("compilation failed")
        os.rename(tmp, classes)
        for old in os.listdir(OUT):
            if old.startswith("classes-") and os.path.join(OUT, old) != classes:
                shutil.rmtree(os.path.join(OUT, old), ignore_errors=True)
    resources = os.path.join(ROOT, "src", "main", "resources")
    return os.pathsep.join([classes, resources, os.path.join(jars, "*")])


def java_command(classpath, work):
    """The JVM invocation for graftbench.Main with its scratch dirs in `work`."""
    opens = [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    return ["java", *opens, "-Xmx3g", "-Xms3g",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "graftbench.Main"]
