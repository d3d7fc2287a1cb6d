#!/usr/bin/env python3
"""Layered benchmark of the spatial pipeline.

Run from the root of a checkout:

    python3 perfbench/run.py --workload flagship_uniform --seed 1 --seconds 10 --trace 0

Builds the benchmark (perfbench/build.sbt compiles the engine's sources with
the benchmark's) when the sources changed, then runs one JVM for one
workload. The last line of standard output is the JSON result. All scratch
data lives in .bench_tmp/ under the checkout and is removed at exit; traced
runs write their spans to .bench_out/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ["uniform", "clustered"]
BENCH = "perfbench"
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
SBT_OPTS = ("-Dsbt.override.build.repos=true "
            "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
            " -Dsbt.offline=true -Xmx2g")
BUILD_TIMEOUT = 850
RUN_TIMEOUT = 170
# a run at fewer cores than the host has (the N vs 4N figure) may take longer
SLOW_RUN_TIMEOUT = 900


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest(root):
    h = hashlib.sha256()
    tops = [os.path.join(root, "src", "main"), os.path.join(root, BENCH, "src"),
            os.path.join(root, BENCH, "build.sbt"),
            os.path.join(root, BENCH, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root):
    """Compile with sbt unless the stamp says the sources are unchanged."""
    bench = os.path.join(root, BENCH)
    cp_file = os.path.join(bench, "target", "classpath.txt")
    stamp = os.path.join(bench, "target", "sources.sha256")
    digest = sources_digest(root)
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=os.environ.get("SBT_OPTS", SBT_OPTS))
    t = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=bench, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT)
    if p.returncode != 0 or not os.path.exists(cp_file):
        raise SystemExit("perfbench: build failed")
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t:.1f} s")
    with open(cp_file) as g:
        return g.read().strip()


def heap():
    """Half of RAM in GB, clamped to 2..8 (the rule the test suite uses)."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
                    return f"{min(max(g, 2), 8)}g"
    except OSError:
        pass
    return "2g"


def on_signal(signum, _frame):
    raise SystemExit(f"perfbench: stopped by signal {signum}")


def main():
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--cores", type=int, default=0,
                    help="local[N] cores (default: all)")
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for the benchmark's own test")
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: run from the root of a checkout "
                         "(src/main/scala/graft not found)")
    cp = build(root)

    tmp = os.path.join(root, ".bench_tmp", f"run-{os.getpid()}")
    os.makedirs(os.path.join(tmp, "spark-local"), exist_ok=True)
    os.makedirs(os.path.join(tmp, "java-tmp"), exist_ok=True)
    trace_out = None
    if a.trace:
        os.makedirs(os.path.join(root, ".bench_out"), exist_ok=True)
        trace_out = os.path.join(root, ".bench_out",
                                 f"{a.workload}-seed{a.seed}-trace.json")
    cores = a.cores or os.cpu_count() or 1
    timeout = RUN_TIMEOUT if cores >= (os.cpu_count() or 1) else SLOW_RUN_TIMEOUT
    cmd = (["java"] + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xmx{heap()}", "-Dspark.ui.enabled=false",
            "-Dlog4j2.configurationFile=" + os.path.join(root, BENCH, "log4j2.properties"),
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}/java-tmp",
            f"-Dspark.sql.warehouse.dir={tmp}/warehouse",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--tmp", tmp, "--cores", str(cores), "--smoke", "1" if a.smoke else "0"] +
           (["--trace-out", trace_out] if trace_out else []))
    # the kNN broadcast fast path would take every input of this size; pin
    # the distributed path the paper's scale runs
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
               GRAFT_KNN_BROADCAST_LIMIT="0")
    proc = None
    try:
        t0 = time.time_ns()
        proc = subprocess.Popen(cmd + ["--t0-ns", str(t0)], cwd=tmp, env=env,
                                stdout=subprocess.PIPE, stderr=sys.stderr,
                                stdin=subprocess.DEVNULL, text=True,
                                start_new_session=True)
        out, _ = proc.communicate(timeout=timeout)
        code = proc.returncode
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"perfbench: run exceeded {timeout} s")
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if code != 0 or not lines:
        raise SystemExit(f"perfbench: benchmark JVM exited with {code}")
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
