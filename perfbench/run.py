#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload etl_nightly --seed 1 --seconds 1 --trace 0

Run from the repository root. The first run builds the program and the
benchmark's JVM main from source with sbt (offline) into target/ dirs;
later runs reuse that build while the sources are unchanged. Everything a
run writes goes under .perfbench/ in the repository root, and its work
directory is removed when it ends.

The last line of stdout is one JSON object with the keys correct,
attempted, failed and metrics: the end_to_end metrics of BENCHMARK.json
with --trace 0, the per_layer metrics with --trace 1. The exit code is 0
only when every output check passed.
"""

import argparse
import hashlib
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
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
STATE = os.path.join(ROOT, ".perfbench")
TARGET = os.path.join(HERE, "target")
WORKLOADS = ("etl_nightly", "sql_mix", "graph_kernels")

# Pinned run context: a fixed heap, and one Spark core per CPU this
# process may run on (the program's own default, local[32], would
# oversubscribe a small box).
DRIVER_MEM = "4g"
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

WARN_LINE = re.compile(r"^\S+ \S+ WARN ")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of every file the build reads, so a stale build is redone."""
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(d, f) for d in (ROOT, HERE) for f in ("build.sbt", "project/build.properties")
             if os.path.isfile(os.path.join(d, f))]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(digest):
    """Compile with sbt unless target/ already holds a build of `digest`."""
    stamp = os.path.join(TARGET, "source.sha256")
    cp_file = os.path.join(TARGET, "classpath.txt")
    if os.path.isfile(stamp) and os.path.isfile(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as fh:
                    return fh.read().strip()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building with sbt (first run in this checkout)")
    t0 = time.time()
    code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                     BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if code != 0 or not os.path.isfile(cp_file):
        raise RuntimeError(f"sbt build failed with code {code}")
    with open(stamp, "w") as fh:
        fh.write(digest + "\n")
    log(f"built in {time.time() - t0:.1f} s")
    with open(cp_file) as fh:
        return fh.read().strip()


def commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def cpu_ticks():
    """(steal, total) CPU ticks of the box so far, from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, IndexError, ValueError):
        return 0, 0


CHILDREN = []


def stop_children(*_):
    """Kill every child process group still running and wait for it."""
    for proc in CHILDREN:
        if proc.poll() is None:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()


def on_signal(signum, _frame):
    stop_children()
    sys.exit(128 + signum)


def start_child(cmd, **kw):
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kw)
    CHILDREN.append(proc)
    return proc


def run_child(cmd, timeout_s, **kw):
    """Run a child to completion; its process group dies at `timeout_s`."""
    proc = start_child(cmd, **kw)
    try:
        return proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        stop_children()
        return -1


def run_jvm(cmd, env):
    """Run the benchmark JVM; return (result dict or None, Spark WARN lines
    and single-partition window warnings seen between the timed markers)."""
    proc = start_child(cmd, env=env, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    counts = {"warn": 0, "window": 0}

    def pump_stderr():
        inside = False
        for line in proc.stderr:
            sys.stderr.write(line)
            if line.startswith("PERFBENCH_TIMED_BEGIN"):
                inside = True
            elif line.startswith("PERFBENCH_TIMED_END"):
                inside = False
            elif inside and WARN_LINE.match(line):
                counts["warn"] += 1
                if "No Partition Defined for Window" in line:
                    counts["window"] += 1

    t = threading.Thread(target=pump_stderr, daemon=True)
    t.start()
    result = None
    timer = threading.Timer(JVM_TIMEOUT_S, stop_children)
    timer.start()
    try:
        for line in proc.stdout:
            if line.startswith("PERFBENCH_RESULT "):
                result = json.loads(line[len("PERFBENCH_RESULT "):])
            else:
                sys.stderr.write(line)
        proc.wait()
    finally:
        timer.cancel()
        stop_children()
        t.join(timeout=10)
    if proc.returncode != 0:
        log(f"benchmark JVM exited with code {proc.returncode}")
        return None, counts
    return result, counts


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="re-record the expected digests of a query workload instead of measuring")
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)

    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        log(f"program sources not found under {os.path.relpath(PROGRAM_SRC, os.getcwd())}")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    digest = source_digest()
    try:
        cp = build(digest)
    except (RuntimeError, OSError, subprocess.SubprocessError) as e:
        log(str(e))
        return 2

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(STATE, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "GRAFT_ARTIFACTS_DIR": os.path.join(work, "artifacts"),
    })
    env.pop("GRAFT_CHECKPOINT_DIR", None)
    expected = os.path.join(HERE, "expected.tsv")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{DRIVER_MEM}", "-Dspark.ui.enabled=false", "-Duser.timezone=UTC",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dderby.system.home={os.path.join(work, 'derby-home')}",
        f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--work", os.path.join(work, "data"), "--expected", expected,
    ] + (["--record", expected] if args.record else []))
    steal0, total0 = cpu_ticks()
    try:
        result, counts = run_jvm(cmd, env)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    steal1, total1 = cpu_ticks()
    if args.record:
        return 0
    if result is None:
        log("no result")
        return 1

    ctx = result.pop("context")
    ctx.update({"commit": commit(), "source_sha256": digest, "nproc": str(cpus),
                "cpu_steal_share": f"{(steal1 - steal0) / max(1, total1 - total0):.4f}"})
    metrics = result["metrics"]
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    if args.trace:
        passes = max(1, int(ctx["measured_passes"]))
        metrics["spark.warn_lines"] = {"value": counts["warn"] / passes, "unit": "count"}
        metrics["spark.single_partition_windows"] = {"value": counts["window"] / passes, "unit": "count"}
        # a layer this workload never enters did no work in it
        for m in wanted:
            metrics.setdefault(m["name"], {"value": 0, "unit": m["unit"]})
    final = {
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {m["name"]: metrics[m["name"]] for m in wanted},
    }

    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    detail = os.path.join(STATE, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(detail, "w") as fh:
        json.dump({"context": ctx, "result": result, "final": final}, fh, indent=1, sort_keys=True)

    print("context " + json.dumps(ctx, sort_keys=True))
    for f in result["failed_checks"] + result["errors"]:
        print(f"FAILED {f}")
    for name, m in final["metrics"].items():
        print(f"{name} = {m['value']} {m['unit']}")
    print(f"failed_op_share = {result['failed'] / max(1, result['attempted'])} "
          f"({result['failed']} of {result['attempted']} operations)")
    print(json.dumps(final), flush=True)
    return 0 if final["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
