"""Build file of the benchmark: compiles the library (src/main/scala) together
with the benchmark's Scala sources (perfbench/src) using the Scala compiler
that ships in the Spark distribution's jars directory, into
.bench_build/classes, packaged as .bench_build/perfbench.jar.

    python3 perfbench/build.py            # library + benchmark
    python3 perfbench/build.py --tests    # also the benchmark's own tests

A build is skipped when a stamp over every source file and jar name matches.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
LIB_RES = os.path.join(ROOT, "src", "main", "resources")


class BuildError(Exception):
    pass


def spark_jars():
    """The jars of a Spark distribution that ships a Scala compiler:
    $SPARK_HOME, else the installation of a spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(p, "spark-submit"))))
        for p in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(p, "spark-submit"))]
    for home in homes:
        d = os.path.join(home, "jars")
        jars = sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".jar")) \
            if home and os.path.isdir(d) else []
        if any(os.path.basename(j).startswith("scala-compiler") for j in jars):
            return jars
    raise BuildError("no Spark distribution with a Scala compiler in its jars (set SPARK_HOME)")


def scala_files(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def _stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()


def _compile(out, files, classpath, stamp):
    stamp_file = out + ".stamp"
    if os.path.isdir(out) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.pathsep.join(classpath)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", cp, "@" + argfile]
    if subprocess.run(cmd).returncode != 0:
        raise BuildError("scalac failed")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return out


def _jar(classes):
    """The compiled classes as one jar: a class-data-sharing archive
    (run.py) takes classes from jars only. Rebuilt after each compile,
    which also makes the archive of the previous classes stale."""
    jar = os.path.join(BUILD, "perfbench.jar")
    if os.path.exists(jar) and os.path.getmtime(jar) >= os.path.getmtime(classes + ".stamp"):
        return jar
    tmp = jar + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for base, _, names in sorted(os.walk(classes)):
            for n in sorted(names):
                f = os.path.join(base, n)
                z.write(f, os.path.relpath(f, classes))
    os.replace(tmp, jar)
    for f in os.listdir(BUILD):
        if f.endswith(".jsa"):
            os.remove(os.path.join(BUILD, f))
    return jar


def build(tests=False):
    """Compile what is stale; return the classpath entries to run with."""
    if not os.path.isdir(LIB_SRC):
        raise BuildError("library sources not found at %s" % LIB_SRC)
    os.makedirs(BUILD, exist_ok=True)
    jars = spark_jars()
    files = scala_files(LIB_SRC) + scala_files(os.path.join(BENCH, "src"))
    classes = os.path.join(BUILD, "classes")
    stamp = _stamp(files, jars)
    _compile(classes, files, jars, stamp)
    if os.path.isdir(LIB_RES):
        shutil.copytree(LIB_RES, classes, dirs_exist_ok=True)
    cp = [_jar(classes)]
    if tests:
        tfiles = scala_files(os.path.join(BENCH, "test"))
        test_classes = os.path.join(BUILD, "test-classes")
        _compile(test_classes, tfiles, [classes] + jars, _stamp(files + tfiles, jars))
        cp.append(test_classes)
    return cp + jars


if __name__ == "__main__":
    try:
        build(tests="--tests" in sys.argv[1:])
    except BuildError as e:
        print("build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
