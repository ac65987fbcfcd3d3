#!/usr/bin/env python3
"""Pipeline benchmark: one command, one workload, one seed.

    python3 pipebench/run.py --workload stream|serve \
        --seed N --seconds S --trace 0|1 [--volume full|tiny]

Run from the repository root. On first use it compiles the engine's
sources (src/main/scala) together with the harness (pipebench/src) with
sbt, once per source state; every run then launches a plain JVM on the
compiled classes, sized from the host (cores from the CPU affinity mask,
heap from MemTotal), with a fresh work directory under pipebench/work/
for the warehouse, checkpoints and Spark scratch, removed afterwards.

The JVM prints report lines and, last, one JSON object
{"correct", "attempted", "failed", "metrics"}; this script relays them
and exits non-zero when the run failed or a correctness check did.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(TARGET, "classpath.txt")
STAMP_FILE = os.path.join(TARGET, "source.stamp")
WORKLOADS = ("stream", "serve")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"pipebench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build: engine and harness sources."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    """The Spark installation whose jars the build compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if submit is None:
        fail("set SPARK_HOME or put spark-submit on PATH")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as fh:
            if fh.read().strip() == stamp:
                return
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    print("pipebench: building (sbt compile) ...", file=sys.stderr, flush=True)
    log = os.path.join(TARGET, "build.log")
    os.makedirs(TARGET, exist_ok=True)
    with open(log, "w") as fh:
        rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
    if rc != 0 or not os.path.exists(CLASSPATH_FILE):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        fail(f"build failed (rc={rc}), see {log}")
    with open(STAMP_FILE, "w") as fh:
        fh.write(stamp)


def host_size():
    cores = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    # a sixth of the host's memory, 1-4 GiB: Spark local mode is one JVM
    heap_mb = max(1024, min(4096, mem_kb // 1024 // 6))
    return cores, heap_mb


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--volume", choices=("full", "tiny"), default="full")
    ap.add_argument("--cores", type=int, default=None,
                    help="Spark local[N] width (default: the CPU affinity mask)")
    a = ap.parse_args()

    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {os.path.relpath(ENGINE_SRC)}; run from a full checkout")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt must be on PATH")
    build()
    with open(CLASSPATH_FILE) as fh:
        classpath = fh.read().strip()

    cores, heap_mb = host_size()
    cores = a.cores or cores
    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    out = os.path.join(HERE, "out")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    os.makedirs(out, exist_ok=True)

    # timing flags and A/B toggles (GRAFT_*, SPARK_GRAFT_*) would change what
    # is measured: the JVM runs without them and refuses to start with one
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("GRAFT_", "SPARK_GRAFT_")) and k != "SPARK_DRIVER_MEM"}
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the heap grows with use, so peak_jvm_mb follows what the run touches;
    # a fixed young generation keeps G1's adaptive sizing from moving it
    cmd = (["java", f"-Xmx{heap_mb}m", "-Xmn256m", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", classpath, "graft.pipebench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", out, "--cores", str(cores),
            "--volume", a.volume])
    log = os.path.join(out, f"{a.workload}-{a.seed}-trace{a.trace}.log")
    lines = []

    def relay(stream):
        for line in stream:
            lines.append(line.rstrip("\n"))
            if not line.startswith("{"):
                print(line, end="", flush=True)

    def stop_group():
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        # stdout is read on its own thread so the deadline holds even when
        # the JVM hangs without printing
        reader = threading.Thread(target=relay, args=(proc.stdout,), daemon=True)
        reader.start()
        # the JVM runs in its own session: take it down when this script is stopped
        signal.signal(signal.SIGTERM, lambda *_: (stop_group(), sys.exit(143)))
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            stop_group()
            proc.wait()
            reader.join(timeout=10)
            shutil.rmtree(work, ignore_errors=True)
            fail(f"run exceeded {RUN_TIMEOUT_S} s, see {log}", 3)
        stop_group()
        reader.join(timeout=10)
    shutil.rmtree(work, ignore_errors=True)

    result = None
    if lines and lines[-1].startswith("{"):
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"run failed (rc={rc}) without a result, see {log}", 1)
    print(json.dumps(result), flush=True)
    if rc != 0 or not result["correct"] or result["failed"]:
        sys.exit(rc or 1)


if __name__ == "__main__":
    main()
