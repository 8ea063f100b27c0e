#!/usr/bin/env python3
"""graft's benchmark: builds the engine from this checkout, runs one workload
in one JVM and prints the result as the last line of standard output.

    python3 perfbench/run.py --workload stocks|ingest --seed N --seconds S --trace 0|1

With --trace 0 the result holds the end-to-end metrics, with --trace 1 the
per-layer metrics. The build runs once per checkout (perfbench/jvm, an sbt
project that compiles src/main/scala with the benchmark driver); later runs
reuse it while no source file changes. The ingest workload reads the sf0.1
slice committed under perfbench/data. Inputs, fixtures and Spark scratch
space live under .bench_work/ and are removed when the run ends; the spans
of traced passes and the last result stay under .bench_out/.

Dev flag: --inject kind:op[:arg] (corrupt, throw, sleep) for the self-test.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
JVM_PROJECT = os.path.join(HERE, "jvm")
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
OUT = os.path.join(ROOT, ".bench_out")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
# the ingest workload's slice of the sf0.1 tables (perfbench/make_data.py)
DATA = os.path.join(HERE, "data")
DATA_FILES = ("orders.parquet", "events.parquet", "documents.parquet")
# A run must end within 180 s; the first run in a checkout, which builds,
# within 900 s.
RUN_BUDGET_S = 175
FIRST_RUN_BUDGET_S = 890

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# Registry queries that read the reference stocks archive, which is not part
# of a checkout. They belong to no workload here: listed, never attempted.
SKIPPED = {f"stk{i}": "reads the reference stocks archive (stocks.csv.zip), "
           "which is not in the checkout" for i in range(1, 6)}


def log(msg):
    print(f"perfbench: {msg}", flush=True)


def fail(msg, code=2):
    print(f"perfbench: error: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def spark_jars():
    """The Spark jars the engine's own build links (its unmanagedBase), else
    $SPARK_HOME/jars; None if neither names a directory."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'^unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read(), re.M)
    except OSError:
        m = None
    for d in ([m.group(1)] if m else []) + (
            [os.path.join(os.environ["SPARK_HOME"], "jars")] if os.environ.get("SPARK_HOME") else []):
        if os.path.isdir(d):
            return d
    return None


def preflight():
    """One line per missing input; exits when the benchmark cannot run.
    Returns the Spark jars directory."""
    missing = []
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        missing.append("engine sources src/main/scala/graft (not a graft checkout)")
    for f in DATA_FILES:
        if not os.path.isfile(os.path.join(DATA, f)):
            missing.append(f"ingest input slice perfbench/data/{f}")
    if importlib.util.find_spec("duckdb") is None:
        missing.append("python module duckdb (the oracle)")
    jars = spark_jars()
    if jars is None:
        missing.append("Spark jars (the engine build's unmanagedBase, or $SPARK_HOME/jars)")
    for tool in ("java", "sbt"):
        if shutil.which(tool) is None:
            missing.append(f"{tool} on PATH")
    for m in missing:
        log(f"missing input: {m}")
    if missing:
        fail(f"{len(missing)} missing input(s)")
    for name, why in SKIPPED.items():
        log(f"skipped {name}: {why}")
    return jars


def source_stamp():
    h = hashlib.sha256()
    for top in (ENGINE_SRC, os.path.join(JVM_PROJECT, "src")):
        for d, dirs, files in sorted(os.walk(top)):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for p in (os.path.join(JVM_PROJECT, "build.sbt"),
              os.path.join(JVM_PROJECT, "project", "build.properties")):
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(jars, deadline):
    """Compile once per source state; returns (classpath, built now)."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp() + jars
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip(), False
    os.makedirs(BUILD, exist_ok=True)
    log("building the engine and the benchmark driver (sbt)")
    t0 = time.time()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["PERFBENCH_SPARK_JARS"] = jars
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=JVM_PROJECT, stdout=subprocess.PIPE, stderr=lf, text=True, env=env,
            stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail("build exceeded its time budget", 3)
        lf.write(out)
    if proc.returncode != 0:
        fail(f"build failed (see {os.path.relpath(log_path, ROOT)})", 3)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    cp = lines[-1].strip() if lines else ""
    if "perfbench" not in cp:
        fail("build printed no classpath", 3)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"build took {time.time() - t0:.1f} s")
    return cp, True


def tree_bytes(path):
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total


def java_cmd(cp, heap, args):
    # The parallel collector runs no concurrent GC threads beside the task
    # threads, and a fixed, pre-touched heap keeps first-touch page faults
    # out of the measured passes. With G1 and an untouched heap, the stocks
    # pass wall varied about twice as much from run to run.
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-XX:+UseParallelGC", "-XX:+AlwaysPreTouch", f"-Xms{heap}", f"-Xmx{heap}",
             f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"]
            + opens + ["-cp", cp, "graft.perfbench.Main"] + args)


def run_jvm(cmd, deadline):
    """Run one JVM in its own process group, echoing its stdout; a watchdog
    kills the group if it outlives the deadline."""
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    expired = threading.Event()

    def kill():
        expired.set()
        os.killpg(proc.pid, signal.SIGKILL)

    watchdog = threading.Timer(max(1.0, deadline - time.time()), kill)
    watchdog.start()
    lines = []
    try:
        for line in proc.stdout:
            lines.append(line.rstrip("\n"))
            print(line, end="", flush=True)
        proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if expired.is_set():
        fail("run exceeded its time budget", 4)
    if proc.returncode != 0:
        fail(f"benchmark JVM exited with {proc.returncode}", 5)
    return lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["stocks", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inject", default=None)
    a = ap.parse_args()

    t0 = time.time()
    jars = preflight()
    cp, built = build(jars, t0 + FIRST_RUN_BUDGET_S - RUN_BUDGET_S)
    deadline = (t0 + FIRST_RUN_BUDGET_S) if built else (t0 + RUN_BUDGET_S)
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.makedirs(OUT, exist_ok=True)
    for f in os.listdir(OUT):
        if f.startswith(f"spans-{a.workload}-") or f == "result.json":
            os.remove(os.path.join(OUT, f))
    target = os.path.join(ROOT, "target")
    target_before = tree_bytes(target)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", WORK, "--out", OUT, "--data", DATA,
                "--oracle", os.path.join(HERE, "oracle.py"), "--python", sys.executable]
        if a.inject:
            args += ["--inject", a.inject]
        run_jvm(java_cmd(cp, "2g", args), deadline)
        with open(os.path.join(OUT, "result.json")) as fh:
            result = json.load(fh)
        if a.trace == 1:
            # the canary once more, in a fresh JVM after the run: a host
            # slowdown shows here too, state built up in the run's JVM does not
            lines = run_jvm(java_cmd(cp, "1g", ["--canary-only", "--work", WORK]), deadline)
            fresh = [float(ln.split()[-1]) for ln in lines if "fresh-jvm canary_s" in ln]
            if not fresh:
                fail("fresh-JVM canary printed no time", 5)
            result["metrics"]["host.canary_fresh_s"] = {"value": fresh[0], "unit": "s"}
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    growth = tree_bytes(target) - target_before
    log(f"state: target/ grew by {growth} bytes; {os.path.relpath(WORK, ROOT)}/ removed; "
        f"run took {time.time() - t0:.1f} s")
    if growth > 0:
        log("FAILED state isolation: the run left files under target/")
        result["correct"] = False
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
