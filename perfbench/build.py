#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the program (src/main/scala and its resources) together with the
benchmark's own Scala driver (perfbench/src) into one classes directory,
using the Scala compiler that ships in Spark's jars directory, so a plain
checkout builds with no build tool and no downloads.

    python3 perfbench/build.py        # prints the classes directory

run.py calls ensure_built() before every run; it recompiles only when a
source file changed. Output goes to $CARGO_TARGET_DIR (default
.bench_build) under the checkout.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (the same list build.sbt passes to forked runs).
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
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("Spark's jars directory not found: set SPARK_HOME")
    return jars


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java executable found")
    return exe


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not main:
        raise BuildError("no program sources under src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))


def resources():
    base = os.path.join(ROOT, "src", "main", "resources")
    return base, sorted(p for p in glob.glob(os.path.join(base, "**", "*"), recursive=True) if os.path.isfile(p))


def source_hash():
    h = hashlib.sha256()
    for p in sources() + resources()[1]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def ensure_built():
    """Returns the classes directory, compiling first if any source changed."""
    out = os.path.join(build_dir(), "classes")
    stamp = out + ".stamp"
    digest = source_hash()
    if os.path.isdir(out) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == digest:
                return out
    jars = spark_jars()
    compiler = [glob.glob(os.path.join(jars, f"scala-{n}-2.13*.jar")) for n in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise BuildError(f"no Scala 2.13 compiler in {jars}")
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build_dir(), "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(["-nowarn", "-d", tmp, "-classpath", os.path.join(jars, "*")] + sources()) + "\n")
    r = subprocess.run([java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(c[0] for c in compiler),
                        "scala.tools.nsc.Main", "@" + argfile])
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    base, files = resources()
    for p in files:
        dst = os.path.join(tmp, os.path.relpath(p, base))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copy(p, dst)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp, "w") as f:
        f.write(digest)
    return out


def java_cmd(classes, heap, tmpdir):
    opens = [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # no hsperfdata file: the JVM writes nothing outside the checkout
    return [java(), *opens, f"-Xmx{heap}", "-XX:ReservedCodeCacheSize=480m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmpdir}", "-Dspark.ui.enabled=false",
            "-cp", classes + ":" + os.path.join(spark_jars(), "*")]


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        sys.exit(f"perfbench build: {e}")
