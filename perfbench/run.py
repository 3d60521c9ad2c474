"""The repository's benchmark. From the root of a checkout:

    python3 perfbench/run.py --workload audience|neardup|ann --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --self-test

Builds the library and the benchmark from source when stale (build.py), then
runs one workload in one JVM. The last line of standard output is the result
object; the line before it is the run context. See perfbench/README.md.
"""
import argparse
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

RUN_TIMEOUT_S = 170
# -XX:-UsePerfData: no hsperfdata file outside the checkout
JVM_OPTS = ["-Xmx2g", "-Xss8m", "-XX:-UsePerfData"] + [
    x for p in [
        "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
        "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
        "java.base/sun.util.calendar"]
    for x in ("--add-opens", p + "=ALL-UNNAMED")]


def commit():
    if not os.path.isdir(os.path.join(build.ROOT, ".git")):
        return "unknown"
    r = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                       capture_output=True, text=True)
    return r.stdout.strip() if r.returncode == 0 else "unknown"


def java(classpath, main, args, work, timeout, jvm_opts=(), stdout=None):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java"] + JVM_OPTS + list(jvm_opts) + [
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-cp", os.pathsep.join(classpath), main] + args
    proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=stdout)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print("benchmark run exceeded %d s" % timeout, file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main_args(workload, seed, seconds, trace, work):
    return ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", trace, "--work", work, "--out", os.path.join(build.ROOT, ".bench_out"),
            "--commit", commit()]


def class_archive(classpath, workload):
    """JVM options that map a class-data-sharing archive of the classes a
    run loads, so that a run does not load and verify Spark's classes
    again: about 5 s of each run's set-up on 4 cores. The first run after a
    build writes the archive from one unmeasured run of its workload
    (seed 0, the fewest repetitions); every measured run maps it."""
    jsa = os.path.join(build.BUILD, "classes.jsa")
    if not os.path.exists(jsa):
        work = os.path.join(build.ROOT, ".bench_run", "archive-%d" % os.getpid())
        java(classpath, "graft.perfbench.Main", main_args(workload, 0, 0, "0", work), work,
             RUN_TIMEOUT_S, ["-XX:ArchiveClassesAtExit=" + jsa + ".tmp"], subprocess.DEVNULL)
        if os.path.exists(jsa + ".tmp"):
            os.replace(jsa + ".tmp", jsa)
    # JVM log lines go to stderr: the last stdout line is the result
    return (["-XX:SharedArchiveFile=" + jsa] if os.path.exists(jsa) else []) + \
        ["-Xlog:disable", "-Xlog:all=error:stderr"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["audience", "neardup", "ann"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")
    try:
        cp = build.build(tests=a.self_test)
    except (build.BuildError, OSError) as e:
        print("build failed: %s" % e, file=sys.stderr)
        return 2
    work = os.path.join(build.ROOT, ".bench_run", "%s-%d" % (a.workload or "test", os.getpid()))
    if a.self_test:
        return java(cp, "graft.perfbench.SelfTest", [work], work, RUN_TIMEOUT_S)
    return java(cp, "graft.perfbench.Main", main_args(a.workload, a.seed, a.seconds, a.trace, work),
                work, RUN_TIMEOUT_S, class_archive(cp, a.workload))


if __name__ == "__main__":
    sys.exit(main())
