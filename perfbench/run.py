#!/usr/bin/env python3
"""Sync-path and query-mix benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness with sbt (offline) and caches the build; every run then generates
or reuses the seeded inputs and starts one JVM (``perfbench.Main``) that
runs the workload in a closed loop with one client. The last line of
standard output is the result JSON; the exit code is nonzero when an output
check failed or the run could not be made.

Workloads: connector_singer, file_parquet, incremental_resume, query_mix.
See perfbench/NOTES.md for what each measures and how to read the metrics.
"""

import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("connector_singer", "file_parquet", "incremental_resume", "query_mix")
PINS = os.path.join(HERE, "expected", "query_mix.json")
JVM_HEAP = "2g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

sys.path.insert(0, HERE)
import gen  # noqa: E402


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compiles the engine and the harness when their sources changed, and
    returns the java command prefix (flags and classpath)."""
    target = os.path.join(HERE, "target")
    stamp_file = os.path.join(target, "build.stamp")
    stamp = source_stamp()
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        log("building engine and harness with sbt")
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        opts = env.get("SBT_OPTS", "")
        if "sbt.offline" not in opts:
            opts += " -Dsbt.offline=true"
        tmp = os.path.join(WORK, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env["SBT_OPTS"] = f"{opts} -XX:-UsePerfData -Dsbt.server.autostart=false -Djava.io.tmpdir={tmp}".strip()
        t0 = time.monotonic()
        proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                              cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                              text=True, timeout=BUILD_TIMEOUT_S)
        if proc.returncode != 0:
            sys.stderr.write(proc.stdout[-4000:])
            raise SystemExit(f"[perfbench] build failed (sbt exit {proc.returncode})")
        log(f"build took {time.monotonic() - t0:.1f} s")
        archive_classes(java_command(target, archive=False), os.path.join(target, "app.jsa"))
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return java_command(target, archive=True)


def java_command(target, archive):
    classpath = open(os.path.join(target, "classpath.txt")).read().strip()
    flags = open(os.path.join(target, "jvm_options.txt")).read().split()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cds = [f"-XX:SharedArchiveFile={os.path.join(target, 'app.jsa')}"] if archive else []
    return [java, *cds, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            *flags, f"-Djava.io.tmpdir={tmp}", "-cp", classpath]


def archive_classes(java, archive):
    """Runs one operation of every workload at sf0.001 and archives the
    classes they loaded, which takes several seconds off each JVM's cold
    start (the classpath must be jars only)."""
    t0 = time.monotonic()
    if os.path.exists(archive):
        os.remove(archive)
    inputs, _ = gen.inputs(WORK, "sf0.001", 0)
    proc = subprocess.run([java[0], f"-XX:ArchiveClassesAtExit={archive}", *java[1:], "perfbench.Train",
                           "--work", os.path.join(WORK, "train"), "--inputs", inputs, "--pins", PINS,
                           "--cores", str(cores())],
                          cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                          timeout=RUN_TIMEOUT_S)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit(f"[perfbench] class archive run failed (exit {proc.returncode})")
    log(f"class archive took {time.monotonic() - t0:.1f} s")


def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(cmd):
    """Runs the harness; relays its output; returns its exit code."""
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log(f"run exceeded {RUN_TIMEOUT_S} s")
        return 124
    sys.stdout.write(out)
    sys.stdout.flush()
    return proc.returncode


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", default="sf0.01", help="testdata scale under perfbench/data")
    p.add_argument("--inject", choices=("drop-record", "dup-delta"),
                   help="plant a defect in the inputs (self-tests)")
    a = p.parse_args(argv)

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log(f"no engine sources next to the benchmark (expected build.sbt and src/ in {ROOT})")
        return 2

    java = build()
    inputs, gen_s = gen.inputs(WORK, a.sf, a.seed, a.inject)
    log(f"inputs {os.path.relpath(inputs, ROOT)} (generated in {gen_s:.2f} s, 0 = cached)")
    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    return run_jvm(java + [
        "perfbench.Main", "--workload", a.workload, "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cores", str(cores()), "--work", work, "--inputs", inputs,
        "--pins", PINS])


if __name__ == "__main__":
    sys.exit(main())
