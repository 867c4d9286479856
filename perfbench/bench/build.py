"""Builds graft and the benchmark harness from source, without sbt.

graft's main sources and the harness are compiled with the Scala
compiler that ships in Spark's jar directory, against Spark's jars, into
`.bench_build/` in the checkout. A content hash of every source decides
whether a rebuild is needed; a file lock serializes concurrent builds.
The generated input tables are cached the same way.
"""
import contextlib
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import zipfile

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)
BUILD = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the directory that
    build.sbt names as unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise BuildError("no Spark jar directory: set SPARK_HOME")
    return m.group(1)


@contextlib.contextmanager
def _lock(name):
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, name + ".lock"), "w") as f:
        fcntl.flock(f, fcntl.LOCK_EX)
        try:
            yield
        finally:
            fcntl.flock(f, fcntl.LOCK_UN)


def _digest(files):
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _scalac(out, jars, classpath, sources, log):
    os.makedirs(out)
    args = os.path.join(out + ".args")
    with open(args, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-cp", classpath, "@" + args]
    with open(log, "w") as lf:
        rc = subprocess.call(cmd, stdout=lf, stderr=subprocess.STDOUT)
    os.remove(args)
    if rc != 0:
        with open(log) as lf:
            tail = lf.read()[-3000:]
        raise BuildError("scalac failed (%d) for %s:\n%s" % (rc, out, tail))


def _jar(classes, jar):
    """Pack a class directory into a jar: the JVM's class-data-sharing
    archive only accepts jars on the class path."""
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    os.rename(jar + ".tmp", jar)


def replace_old(pattern, keep):
    for old in glob.glob(os.path.join(BUILD, pattern)):
        if old != keep:
            shutil.rmtree(old, ignore_errors=True) if os.path.isdir(old) else os.remove(old)


def classpath():
    """Build graft and the harness if their sources changed; return the
    run-time classpath."""
    src = [f for f in glob.glob(os.path.join(ROOT, "src", "main", "**", "*.scala"),
                                recursive=True)]
    if not src:
        raise BuildError("no graft sources under %s/src/main" % ROOT)
    if not glob.glob(os.path.join(spark_jars(), "scala-compiler-*.jar")):
        raise BuildError("no Scala compiler in %s" % spark_jars())
    jars = os.path.join(spark_jars(), "*")
    harness = glob.glob(os.path.join(BENCH_DIR, "harness", "*.scala"))
    graft_jar = os.path.join(BUILD, "graft-%s.jar" % _digest(src))
    harness_jar = os.path.join(BUILD, "harness-%s.jar" % _digest(src + harness))
    with _lock("build"):
        for jar, srcs, cp in ((graft_jar, src, jars),
                              (harness_jar, harness, graft_jar + os.pathsep + jars)):
            if os.path.exists(jar):
                continue
            name = os.path.basename(jar).split("-")[0]
            tmp = os.path.join(BUILD, "classes-" + name)
            shutil.rmtree(tmp, ignore_errors=True)
            _scalac(tmp, jars, cp, srcs, os.path.join(BUILD, "build-%s.log" % name))
            _jar(tmp, jar)
            shutil.rmtree(tmp)
            replace_old(name + "-*.jar", jar)
    return os.pathsep.join([harness_jar, graft_jar, jars])


def cds_archive(cp):
    """(path, exists) of the class-data-sharing archive for this class
    path. The first run dumps it at exit; later runs map it, which cuts
    JVM and Spark start-up by seconds."""
    h = hashlib.sha256(cp.encode())
    h.update(subprocess.run(["java", "-version"], capture_output=True).stderr)
    path = os.path.join(BUILD, "cds-%s.jsa" % h.hexdigest()[:16])
    return path, os.path.exists(path)


def data_dir():
    """Generate the input tables once per generator version."""
    from . import datagen
    out = os.path.join(BUILD, "data-" + _digest([datagen.__file__]))
    with _lock("data"):
        if not os.path.isdir(out):
            for old in glob.glob(os.path.join(BUILD, "data-*")):
                shutil.rmtree(old, ignore_errors=True)
            tmp = out + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            datagen.write(tmp)
            os.rename(tmp, out)
    return out
