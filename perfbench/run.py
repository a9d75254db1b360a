#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload ask|curate --seed N \
        --seconds S --trace 0|1 [--keep DIR]

Run from the root of a checkout. The first call builds the library and
the harness from source with sbt (perfbench/build.sbt) and records the
JVM launch spec in .bench_build/launch.txt; every run then starts the
JVM directly on that classpath. Each run:

1. makes its inputs from the seed (perfbench/gen.py) in a fresh run
   directory under .bench_run/, which also holds the run's staging
   root, Spark local directory and index;
2. starts one JVM that sets up, warms up and runs timed operations for
   S seconds of operation time, with tracing off (end-to-end metrics)
   or on (per-layer metrics);
3. checks every output (perfbench/check.py);
4. prints one JSON line {"correct", "attempted", "failed", "metrics"}
   and removes the run directory (`--keep DIR` copies it first).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
LAUNCH = os.path.join(BUILD, "launch.txt")
RUNS = os.path.join(ROOT, ".bench_run")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

HEAP = "3g"
JVM_LIMIT_S = 140  # leaves the checks their time inside the 180 s a run may take


def die(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    for flag in ("-Dsbt.offline=true", "-Dsbt.server.autostart=false",
                 f"-Djava.io.tmpdir={BUILD}/tmp"):
        if flag.split("=")[0] not in opts:
            opts += " " + flag
    env["SBT_OPTS"] = opts.strip()
    return env


def launch_spec():
    """Classpath and JVM options; builds them on first use."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("no graft sources next to perfbench/ (run from a checkout's root)")
    if not os.path.isfile(LAUNCH):
        os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
        with open(os.path.join(BUILD, "build.log"), "w") as log:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "benchLaunch"],
                cwd=HERE, env=sbt_env(), stdout=log, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=840).returncode
        if rc != 0 or not os.path.isfile(LAUNCH):
            die(f"build failed (sbt exit {rc}); see {BUILD}/build.log")
    lines = open(LAUNCH).read().splitlines()
    return lines[0], lines[1:]


def run_jvm(args, run_dir, text_bytes, deadline):
    cp, opts = launch_spec()
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    cpus = max(1, min(4, (os.cpu_count() or 2) - 1))
    cmd = ["java", f"-Xmx{HEAP}", *opts, f"-Djava.io.tmpdir={run_dir}/tmp",
           "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--run-dir", run_dir,
           "--input", os.path.join(run_dir, "input"),
           "--text-bytes", str(text_bytes), "--cpus", str(cpus)]
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    env["SPARK_GRAFT_STAGING"] = os.path.join(run_dir, "staging")
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    result = os.path.join(run_dir, "out", "result.json")
    if rc != 0 or not os.path.isfile(result):
        tail = open(os.path.join(run_dir, "jvm.log")).read()[-3000:]
        die(f"benchmark JVM ended with {rc}:\n{tail}")
    return json.load(open(result))


def main():
    # a SIGTERM unwinds like an exception, so the JVM and the run directory are cleaned up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["ask", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--keep", help="copy the run directory here before removing it")
    args = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    launch_spec()  # build (once) before the run's clock starts
    t0 = time.time()
    run_dir = os.path.join(RUNS, f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        gen.generate(args.workload, args.seed, os.path.join(run_dir, "input"))
        text_bytes = json.load(open(os.path.join(run_dir, "input", "inputs.json")))["text_bytes"]
        t1 = time.time()
        res = run_jvm(args, run_dir, text_bytes, t0 + JVM_LIMIT_S)
        t2 = time.time()
        errors = check.check(args.workload, check.load(args.workload, run_dir))
        print(f"[perfbench] inputs {t1 - t0:.1f} s, JVM {t2 - t1:.1f} s, "
              f"checks {time.time() - t2:.1f} s", file=sys.stderr)
        for e in errors[:20]:
            print(f"[perfbench] check failed: {e}", file=sys.stderr)
        if args.trace:
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            shutil.copy(os.path.join(run_dir, "out", "trace.jsonl"),
                        os.path.join(BUILD, "traces", f"{args.workload}-s{args.seed}.jsonl"))
        if args.keep:
            shutil.rmtree(args.keep, ignore_errors=True)
            shutil.copytree(run_dir, args.keep)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        if os.path.isdir(RUNS) and not os.listdir(RUNS):
            os.rmdir(RUNS)
    values = {**res["e2e"], **res["layers"]}
    metrics = {}
    for m in wanted:
        # a layer the workload does not call reads 0
        metrics[m["name"]] = {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
    print(json.dumps({"correct": not errors, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
