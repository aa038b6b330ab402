#!/usr/bin/env python3
"""Build the program from source and run one benchmark workload.

    python3 perfbench/run.py --workload olap_serve --seed 1 --seconds 8 --trace 0

Run from the repository root. The program (src/main/scala) and the
benchmark (perfbench/src) are compiled with scalac against the Spark jars
into the build directory ($CARGO_TARGET_DIR, default .bench_build); a
build is reused while the sources hash the same. Each run starts one JVM
for one workload, relays its output, and prints the result JSON as the
last line of stdout. Exits non-zero, without a result, if the sources are
missing, the build fails, or the run fails or times out.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("olap_serve", "realtime_ingest", "curate_batch")
# Workloads whose JVM compiles with C1 only. Their ops are short and
# driver-bound; with C2, latency kept falling for ~20 s of ops and the C2
# compiler threads competed with the program for the cores. curate_batch's
# kernels run about 50 % slower under C1, so it keeps the default JIT.
C1_ONLY = ("olap_serve", "realtime_ingest")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """The Spark jars the program builds against: the `unmanagedBase`
    directory build.sbt names, else $SPARK_HOME/jars."""
    candidates = []
    try:
        with open(os.path.join(root, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            candidates.append(m.group(1))
    except OSError:
        pass
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for jars in candidates:
        if glob.glob(os.path.join(jars, "spark-core_*.jar")):
            return os.path.join(jars, "*")
    fail(f"no Spark jars in {candidates or 'build.sbt or $SPARK_HOME'}")


def sources(root):
    files = sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return files, h.hexdigest()[:16]


def compile_tree(src_root, out_dir, classpath, deadline):
    """Compile every .scala file under src_root into out_dir, once per
    source hash. Returns the class directory."""
    files, digest = sources(src_root)
    if not files:
        fail(f"no Scala sources under {src_root}")
    final = f"{out_dir}-{digest}"
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = tmp + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", classpath.split(os.pathsep)[-1],
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", classpath, "@" + argfile]
    print(f"perfbench: compiling {len(files)} files from {src_root}", file=sys.stderr)
    rc = run_child(cmd, max(10, deadline - time.time()), stdout=sys.stderr)
    os.remove(argfile)
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail(f"compilation of {src_root} failed (exit {rc})")
    for old in glob.glob(f"{out_dir}-*"):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, final)
    return final


def run_child(cmd, timeout, stdout=None, on_line=None, env=None):
    """Run cmd in its own process group; kill the group on timeout and
    wait for it. Streams stdout lines to on_line when given."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE if on_line else stdout,
                         stderr=sys.stderr, env=env, start_new_session=True,
                         text=True)
    try:
        if on_line:
            deadline = time.time() + timeout
            for line in p.stdout:
                on_line(line.rstrip("\n"))
                if time.time() > deadline:
                    raise subprocess.TimeoutExpired(cmd, timeout)
        return p.wait(timeout=timeout)
    except (subprocess.TimeoutExpired, KeyboardInterrupt):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        print(f"perfbench: {cmd[0]} killed after {timeout:.0f} s", file=sys.stderr)
        return -1
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    program = os.path.join(root, "src", "main", "scala")
    bench = os.path.join(HERE, "src")
    if not os.path.isdir(program):
        fail(f"program sources not found at {program}; run from the repository root")
    build = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build, exist_ok=True)

    jars = spark_jars(root)
    deadline = time.time() + BUILD_TIMEOUT_S
    program_classes = compile_tree(program, os.path.join(build, "program"), jars, deadline)
    bench_classes = compile_tree(
        bench, os.path.join(build, "bench"), os.pathsep.join([program_classes, jars]),
        deadline)

    work = os.path.join(build, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # a fixed heap keeps rss_peak_mb steady; C1 only where C2 kept
    # recompiling through the measured window (see README.md)
    cmd = ["java"] + (["-XX:TieredStopAtLevel=1"] if a.workload in C1_ONLY else [])
    cmd += ["-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in JAVA_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([bench_classes, program_classes, jars]),
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
            "--cpus", str(len(os.sched_getaffinity(0))),
            "--spans", os.path.join(build, "traces", f"{a.workload}-seed{a.seed}.jsonl")]

    last = []

    def relay(line):
        if last:
            print(last[0], flush=True)
        last[:] = [line]

    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    try:
        rc = run_child(cmd, RUN_TIMEOUT_S, on_line=relay, env=env)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not last:
        fail(f"workload {a.workload} failed (exit {rc})")
    try:
        result = json.loads(last[0])
    except ValueError:
        fail(f"workload {a.workload} ended without a result line: {last[0]!r}")
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
