#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine from source (see
build.py), starts one JVM with a private temp dir, artifact dir and
Spark local dir under <build dir>/runs/, and drives the engine only
through its public entry points. The last stdout line is the result:
{"correct", "attempted", "failed", "metrics"} with every end_to_end
metric of BENCHMARK.json (--trace 0) or every per_layer metric
(--trace 1). The line before it carries the workload's own named
figures and the archive stamp. Exits non-zero when any output check or
operation failed. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("inventory", "rainstorm_feed", "hydfs_append_read")
DEADLINE_S = 170  # the run must end within 180 s once built


def git_sha():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def nproc():
    return len(os.sched_getaffinity(0))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("BENCHMARK.json", "build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(root, need)):
            sys.exit(f"run from the repository root: {need} not found")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)

    bench_dir = os.path.dirname(os.path.abspath(__file__))
    out_dir = build.build_dir()
    classes, src_hash = build.build(out_dir)

    run_dir = os.path.join(out_dir, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    java, home = build.java_cmd(classes, run_dir)
    result_file = os.path.join(run_dir, "result.json")
    log_file = os.path.join(run_dir, "jvm.log")
    cmd = java + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--nproc", str(nproc()), "--git-sha", git_sha(),
        "--run-dir", home, "--bench-dir", bench_dir, "--out", result_file,
        "--trace-file", os.path.join(out_dir, "traces", f"{a.workload}-seed{a.seed}.json")]

    started = time.time()
    proc = None
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        with open(log_file, "w") as log:
            proc = subprocess.Popen(cmd, cwd=home, stdout=log, stderr=subprocess.STDOUT,
                                    start_new_session=True)
            try:
                code = proc.wait(timeout=max(DEADLINE_S - (time.time() - started), 10))
            except subprocess.TimeoutExpired:
                code = None
        if code is None or not os.path.exists(result_file):
            with open(log_file, errors="replace") as f:
                sys.stderr.write(f.read()[-6000:])
            sys.exit("benchmark JVM timed out" if code is None else f"benchmark JVM failed (exit {code})")
        with open(result_file) as f:
            res = json.load(f)
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)

    if a.trace:
        names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        values = {n: res["layer"].get(n, 0.0) for n, _ in names}
    else:
        names = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        values = res["e2e"]
        missing = [n for n, _ in names if values.get(n) is None]
        if missing:
            res["correct"] = False
            res["failures"].append(f"no value for {missing}")
    res["stamp"]["source_sha256"] = src_hash
    print(json.dumps({"named": res["named"], "stamp": res["stamp"], "failures": res["failures"]}))
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {n: {"value": values.get(n, 0.0), "unit": u} for n, u in names},
    }))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
