#!/usr/bin/env python3
"""Build the program and the benchmark harness from source, then run one
benchmark workload.

    python3 perfbench/run.py --workload wrm_ingest --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout. The program (src/main/scala) and the
harness (perfbench/src) are compiled with the Scala compiler shipped in the
Spark distribution ($SPARK_HOME, else the first spark-submit on the PATH
that has one) into .bench_build/, and rebuilt only when their sources change. The last line of standard output
is the harness's JSON result. The exit code is the harness's: 0 only when
every output check passed.

Options used by the self-tests: --work DIR keeps the inputs in DIR and leaves
them there; --phase gen|run splits input generation from measurement.
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("wrm_ingest", "wrm_dashboard", "wrm_stream")
RUN_LIMIT_S = 175
FIRST_RUN_LIMIT_S = 880
# A fixed heap and the parallel collector keep GC work and resident memory
# from drifting with the collector's adaptive sizing.
HEAP = "2g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(top):
    return sorted(glob.glob(os.path.join(top, "**", "*.scala"), recursive=True))


def stamp(files, extra):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_scala(name, srcs, classpath, jars, extra_stamp):
    """Compile `srcs` into .bench_build/<name> unless its stamp matches."""
    out = os.path.join(BUILD, name)
    key = stamp(srcs, extra_stamp + classpath)
    stamp_file = os.path.join(out, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == key:
        return out, key, False
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    compiler = [j for j in jars if os.path.basename(j).startswith(("scala-compiler", "scala-library", "scala-reflect"))]
    args_file = os.path.join(BUILD, f"{name}.args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", classpath, "@" + args_file]
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=700)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail(f"compiling {name} failed")
    with open(stamp_file, "w") as fh:
        fh.write(key)
    return out, key, True


def spark_jars():
    """The jars of the Spark distribution at $SPARK_HOME, else of the first
    spark-submit on the PATH whose distribution ships a Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
        if any(os.path.basename(j).startswith("scala-compiler") for j in jars):
            return jars
    fail("no Spark distribution with a Scala compiler: set SPARK_HOME")


def build():
    """Returns (classpath, built) after building what is stale."""
    program_src = sources(os.path.join(ROOT, "src", "main", "scala"))
    harness_src = sources(os.path.join(HERE, "src"))
    if not program_src:
        fail(f"no program sources under {os.path.join(ROOT, 'src', 'main', 'scala')}")
    if not harness_src:
        fail("no harness sources under perfbench/src")
    jars = spark_jars()
    os.makedirs(BUILD, exist_ok=True)
    jar_cp = ":".join(jars)
    with open(os.path.join(BUILD, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        program, key, built_p = compile_scala("program", program_src, jar_cp, jars, "")
        harness, _, built_h = compile_scala("harness", harness_src, program + ":" + jar_cp, jars, key)
    return ":".join([harness, program, jar_cp]), built_p or built_h


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--work", help="keep inputs in this directory")
    ap.add_argument("--phase", default="all", choices=("all", "gen", "run"))
    a = ap.parse_args()
    t_start = time.monotonic()
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))

    classpath, built = build()
    tag = f"{a.workload}-{a.seed}-trace{a.trace}"
    work = os.path.abspath(a.work) if a.work else os.path.join(BUILD, "work", tag)
    if a.phase == "all":
        shutil.rmtree(work, ignore_errors=True)
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    log_path = os.path.join(logs, f"{tag}.log")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp,
            "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--cores", str(cores), "--work", work,
            "--reports", os.path.join(BUILD, "reports"), "--phase", a.phase])
    limit = (FIRST_RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.monotonic() - t_start)
    with open(log_path, "w") as log:
        child = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log,
                                 text=True, start_new_session=True)
        try:
            out, _ = child.communicate(timeout=max(limit, 10))
        except subprocess.TimeoutExpired:
            out = None
        finally:
            # Also on SIGTERM or Ctrl-C: the harness never outlives this script.
            if child.poll() is None:
                os.killpg(child.pid, signal.SIGKILL)
                child.wait()
    if not a.work:
        shutil.rmtree(work, ignore_errors=True)
    if out is None:
        fail(f"run exceeded its time limit; log in {log_path}")
    if child.returncode != 0:
        with open(log_path, errors="replace") as fh:
            tail = fh.readlines()[-30:]
        sys.stderr.write("".join(tail))
        print(f"perfbench: harness exited with {child.returncode}; log in {log_path}", file=sys.stderr)
    sys.stdout.write(out)
    sys.stdout.flush()
    sys.exit(child.returncode)


if __name__ == "__main__":
    main()
