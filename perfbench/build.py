"""Build the library and the benchmark JVM code with the Scala compiler
that ships in the Spark distribution, and launch the benchmark JVM.

The repository's own build declares its Spark jars as unmanaged; this
build compiles the same sources (src/main) against the same jars, plus
perfbench/scala, into .bench_build/perfbench/classes. A hash of every
source file and of the jar list keys the output, so a changed tree
rebuilds and an unchanged one does not.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")

# Spark 4.x on JDK 17 needs these when a session starts outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    jars bundled with an installed pyspark."""
    home = os.environ.get("SPARK_HOME")
    cands = [os.path.join(home, "jars")] if home else []
    try:
        import pyspark  # noqa: F401 - only its location is used
        cands.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in cands:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    raise BuildError("no Spark jars with a Scala compiler: set SPARK_HOME")


def sources():
    lib = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(lib):
        raise BuildError(f"library sources not found under {os.path.relpath(lib, ROOT)}")
    files = []
    for base in (lib, os.path.join(ROOT, "perfbench", "scala")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    return sorted(files)


def resources():
    base = os.path.join(ROOT, "src", "main", "resources")
    out = []
    for d, _, fs in os.walk(base):
        out += [os.path.join(d, f) for f in fs]
    return sorted(out)


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def build():
    """Compile if the sources changed; return the run classpath."""
    jars = spark_jars()
    srcs = sources()
    res = resources()
    key = stamp(srcs + res, jars)
    stamp_file = os.path.join(OUT, "stamp")
    cp = CLASSES + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(stamp_file) and open(stamp_file).read() == key:
        return cp
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(f'"{s}"' for s in srcs))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES, "-classpath", os.path.join(jars, "*"),
           "@" + argfile]
    print("perfbench: compiling %d sources" % len(srcs), file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        raise BuildError("scalac failed")
    base = os.path.join(ROOT, "src", "main", "resources")
    for f in res:
        dst = os.path.join(CLASSES, os.path.relpath(f, base))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    with open(stamp_file, "w") as fh:
        fh.write(key)
    return cp


def java_cmd(cp, args, work):
    """The benchmark JVM command, with its temp files under `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    # no hsperfdata: the JVM would otherwise write it under the system /tmp
    return (["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-Djava.io.tmpdir=" + tmp,
             "-Dderby.system.home=" + work]
            + opens + ["-cp", cp, "perfbench.Main"] + args)


def jvm_env(work):
    return dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))


def run_jvm(cp, args, work, timeout):
    """Run the benchmark JVM with its temp, Spark and working directories
    inside `work`; its output goes to stderr. Returns the exit code."""
    cmd = java_cmd(cp, args, work)
    p = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr, env=jvm_env(work))
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return -9
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
