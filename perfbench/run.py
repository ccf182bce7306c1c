#!/usr/bin/env python3
"""Build the engine and the benchmark from source, then run one workload.

    python3 perfbench/run.py --workload api_mixed --seed 1 --seconds 8 --trace 0

Run it from the root of a checkout. The engine (src/main/scala) and the
benchmark (perfbench/src) are compiled with the Scala compiler that ships
with Spark into jars under $CARGO_TARGET_DIR/perfbench (default
.bench_build), together with a class data archive, and reused while the
sources are unchanged. The last line of standard output is the result JSON;
the lines before it are the human report. Spark's log goes to a file under
the build directory, and so do the run records and trace spans.
"""
import argparse
import fcntl
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import zipfile

WORKLOADS = ("api_mixed", "bulk_knn", "update_mixed", "dedup_corpus")
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Spark installation with a Scala compiler found (set SPARK_HOME)")
    return jars


def sources(rel):
    out = []
    for dirpath, _, files in os.walk(os.path.join(ROOT, rel)):
        out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update(str(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def compile_into(out_jar, files, classpath, jars, log):
    argfile = out_jar + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out_jar, "-classpath", classpath,
           "@" + argfile]
    if subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT).returncode != 0:
        fail(f"compilation failed, see {log.name}")


def jar_dir(src, out_jar):
    with zipfile.ZipFile(out_jar, "w") as z:
        for dirpath, _, files in os.walk(src):
            for f in sorted(files):
                path = os.path.join(dirpath, f)
                z.write(path, os.path.relpath(path, src))


def java_cmd(classpath, extra, args):
    return (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
            ["-XX:-UsePerfData", "-Xlog:disable", "-Xlog:all=warning:stderr", "-Xmx3g",
             "-XX:+UseG1GC"] + extra + ["-cp", classpath, "perfbench.Main"] + args)


def build(build_dir, jars):
    """Compile the engine and the benchmark into jars, then record a class
    data archive from a one-second run: every later run maps the classes
    it loaded instead of loading them from the jars, which cuts JVM and
    Spark start-up by a few seconds."""
    engine = sources("src/main/scala")
    bench = sources("perfbench/src")
    if not engine:
        fail("no engine sources under src/main/scala: run from the root of a checkout")
    os.makedirs(build_dir, exist_ok=True)
    engine_jar = os.path.join(build_dir, "engine.jar")
    bench_jar = os.path.join(build_dir, "bench.jar")
    resources_jar = os.path.join(build_dir, "resources.jar")
    archive = os.path.join(build_dir, "classes.jsa")
    spark_cp = os.path.join(jars, "*")
    classpath = os.pathsep.join([bench_jar, engine_jar, resources_jar, spark_cp])
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(build_dir, "build.stamp")
        want = stamp(engine + bench, jars)
        have = open(stamp_file).read() if os.path.exists(stamp_file) else ""
        if have != want:
            for f in (stamp_file, engine_jar, bench_jar, resources_jar, archive):
                if os.path.exists(f):
                    os.remove(f)
            with open(os.path.join(build_dir, "build.log"), "w") as log:
                compile_into(engine_jar, engine, spark_cp, jars, log)
                compile_into(bench_jar, bench, engine_jar + os.pathsep + spark_cp, jars, log)
                jar_dir(os.path.join(ROOT, "src", "main", "resources"), resources_jar)
                work = os.path.join(build_dir, "work", "archive")
                os.makedirs(work, exist_ok=True)
                try:
                    subprocess.run(java_cmd(classpath, [f"-XX:ArchiveClassesAtExit={archive}",
                                                        f"-Djava.io.tmpdir={work}"],
                                            ["--workload", "update_mixed", "--seed", "0",
                                             "--seconds", "1", "--trace", "0",
                                             "--work", work, "--out", work]),
                                   stdout=log, stderr=subprocess.STDOUT, cwd=work,
                                   timeout=RUN_TIMEOUT_S)
                except subprocess.TimeoutExpired:
                    pass
                finally:
                    shutil.rmtree(work, ignore_errors=True)
            with open(stamp_file, "w") as fh:
                fh.write(want)
    return classpath, (archive if os.path.exists(archive) else None)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    jars = spark_jars()
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    classpath, archive = build(build_dir, jars)
    # held while the JVM runs, so a concurrent rebuild cannot swap classes under it
    lock = open(os.path.join(build_dir, "build.lock"))
    fcntl.flock(lock, fcntl.LOCK_SH)

    work = os.path.join(build_dir, "work", str(os.getpid()))
    records = os.path.join(build_dir, "records")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(records, exist_ok=True)
    extra = [f"-Djava.io.tmpdir={tmp}"] + ([f"-XX:SharedArchiveFile={archive}"] if archive else [])
    cmd = java_cmd(classpath, extra,
                   ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                    "--trace", str(a.trace), "--work", work, "--out", records])
    log_path = os.path.join(records, f"spark-{a.workload}-seed{a.seed}-trace{a.trace}.log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, cwd=work,
                                    text=True, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                fail(f"run exceeded {RUN_TIMEOUT_S} s, see {log_path}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    if proc.returncode != 0 or not lines[-1].startswith("{"):
        sys.stderr.write(out)
        fail(f"benchmark JVM exited with {proc.returncode}, see {log_path}")
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
