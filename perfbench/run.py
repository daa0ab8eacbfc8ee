#!/usr/bin/env python3
"""Benchmark of the graft engine: one run of one workload.

usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: rumor_requests, batch_sf01, snapshot_rw (see perfbench/README.md).

The first run in a checkout compiles the engine and the benchmark from
source (perfbench/build.sh) into .bench_build/; later runs reuse the classes
while the sources are unchanged. Each run gets a fresh scratch directory
under .bench_out/ (artifact dir, store roots, Spark local dirs, JVM temp
dir), removed when the run ends; the run's reports stay beside it.

The last line of stdout is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1). The exit code is 0 only when every output was correct.

Environment: SPARK_JARS (default /opt/spark/jars) and PERFBENCH_SF_DIR (the
sf0.1 tables of batch_sf01, default /root/testdata/sf0.1).
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("rumor_requests", "batch_sf01", "snapshot_rw")
HEAP = "4g"
TIME_LIMIT_S = 170  # a run (after any build) must end within this
BUILD_DIR = os.path.join(".bench_build", "perfbench")
OUT_DIR = ".bench_out"
SOURCE_DIRS = ("src/main/scala", "perfbench/src")
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def digest():
    h = hashlib.sha256()
    for d in SOURCE_DIRS:
        for base, dirs, files in os.walk(d):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(base, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open("perfbench/build.sh", "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile when the sources differ from the last build's."""
    os.makedirs(BUILD_DIR, exist_ok=True)
    classes = os.path.join(BUILD_DIR, "classes")
    stamp = os.path.join(BUILD_DIR, "stamp")
    with open(os.path.join(BUILD_DIR, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        want = digest()
        if os.path.isdir(classes) and os.path.exists(stamp) \
                and open(stamp).read() == want:
            return classes
        log("building engine and benchmark from source")
        t0 = time.time()
        subprocess.run(["bash", "perfbench/build.sh", classes],
                       stdout=sys.stderr, check=True)
        with open(stamp, "w") as f:
            f.write(want)
        log(f"built in {time.time() - t0:.1f} s")
    return classes


def run_jvm(classes, args, run_dir, scratch, sf_dir, nproc, deadline):
    jars = os.environ.get("SPARK_JARS", "/opt/spark/jars")
    scratch = os.path.abspath(scratch)
    tmp = os.path.join(scratch, "tmp")
    for d in ("tmp", "index", "local"):
        os.makedirs(os.path.join(scratch, d), exist_ok=True)
    env = dict(os.environ,
               GRAFT_INDEX_DIR=os.path.join(scratch, "index"),
               SPARK_LOCAL_DIRS=os.path.join(scratch, "local"))
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-cp", os.pathsep.join([os.path.abspath(classes),
                                    os.path.abspath("src/main/resources"),
                                    os.path.join(jars, "*")]),
            "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--out", os.path.abspath(run_dir),
            "--scratch", scratch,
            "--data", sf_dir, "--nproc", str(nproc)]
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=scratch, env=env, stdout=logf,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RuntimeError("the run exceeded its time limit")
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = f.readlines()[-30:]
        sys.stderr.writelines(tail)
        raise RuntimeError(f"benchmark JVM exited with {rc}")


def oracle_check(results, sf_dir, run_dir, scratch, deadline):
    """Failed query names per tools/check_oracle.py (DuckDB oracle)."""
    report = os.path.join(run_dir, "oracle.json")
    env = dict(os.environ, TMPDIR=os.path.abspath(os.path.join(scratch, "tmp")))
    with open(os.path.join(run_dir, "oracle.log"), "w") as logf:
        subprocess.run([sys.executable, "tools/check_oracle.py", sf_dir,
                        results, report], stdout=logf, stderr=subprocess.STDOUT,
                       env=env, timeout=max(1.0, deadline - time.time()))
    with open(report) as f:
        rep = json.load(f)
    return sorted(n for n, r in rep["queries"].items() if r.get("err"))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if not os.path.isdir("src/main/scala") or not os.path.isfile("tools/check_oracle.py"):
        log("run from the repository root: the engine sources are missing")
        return 2
    sf_dir = os.environ.get("PERFBENCH_SF_DIR", "/root/testdata/sf0.1")
    if args.workload == "batch_sf01" and not os.path.isfile(f"{sf_dir}/lineitem.parquet"):
        log(f"no sf0.1 tables at {sf_dir}")
        return 2

    classes = build()
    deadline = time.time() + TIME_LIMIT_S
    nproc = len(os.sched_getaffinity(0))
    run_dir = os.path.join(OUT_DIR, f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    scratch = os.path.join(run_dir, "scratch")
    os.makedirs(scratch)
    try:
        run_jvm(classes, args, run_dir, scratch, sf_dir, nproc, deadline)
        with open(os.path.join(run_dir, "result.json")) as f:
            result = json.load(f)
        with open(os.path.join(run_dir, "report.json")) as f:
            report = json.load(f)
        if args.workload == "batch_sf01":
            bad = oracle_check(os.path.join(scratch, "results"), sf_dir,
                               run_dir, scratch, deadline)
            report["oracle_failures"] = bad
            if bad:
                log(f"oracle mismatches: {', '.join(bad)}")
                result["correct"] = False
                result["failed"] = min(result["attempted"],
                                       result["failed"] + len(bad))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    if args.trace == 1:
        # tracing overhead: this traced run minus the untraced run of the
        # same workload and seed, when that run's report is present
        plain = os.path.join(OUT_DIR, f"{args.workload}-s{args.seed}-t0", "report.json")
        if os.path.exists(plain):
            with open(plain) as f:
                base = json.load(f)["end_to_end"]
            report["tracing_overhead"] = {
                k: v - base[k] for k, v in report["end_to_end"].items() if k in base}
    with open(os.path.join(run_dir, "report.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    for p in report.get("problems", []):
        log(f"problem: {p}")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
