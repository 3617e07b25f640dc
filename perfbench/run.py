#!/usr/bin/env python3
"""One run of the lakehouse benchmark (see perfbench/README.md).

Usage, from the repository root:
  python3 perfbench/run.py --workload maintain|stream --seed N \
      --seconds S --trace 0|1 [--smoke]

Builds the engine and the benchmark from source (perfbench/build.py), runs
the workload in one JVM on local[4] (its output checks run inside it), and
prints as its last line one JSON object: {"correct", "attempted", "failed",
"metrics"}. The line before it holds the environment and the workload's
own named figures. Everything the run writes stays under .bench_build/ and,
except a traced run's spans (.bench_build/traces/), is deleted when it ends.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing beside the sources
import build  # noqa: E402

HEAP = "4g"
TIME_LIMIT_S = 175
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def jvm_cmd(classes, main, args, tmp):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cp = classes + os.pathsep + os.path.join(build.spark_jars(ROOT), "*")
    return cmd + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
                  # a fixed set of JIT threads, whose CPU the clock leaves out
                  "-XX:-UseDynamicNumberOfCompilerThreads",
                  f"-Djava.io.tmpdir={tmp}", "-cp", cp, main] + args


def run_jvm(cmd, deadline):
    """Runs the JVM in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def commit_id(digest):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    return f"source-sha256:{digest[:16]}"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["maintain", "stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    deadline = time.time() + TIME_LIMIT_S

    try:
        classes, digest = build.build(ROOT)
    except (OSError, subprocess.CalledProcessError) as e:
        sys.stderr.write(f"build failed: {e}\n")
        return 2

    run_id = f"{a.workload}-{a.seed}-{uuid.uuid4().hex[:8]}"
    work = os.path.join(ROOT, ".bench_build", "run", run_id)
    tmp = os.path.join(ROOT, ".bench_build", "tmp", run_id)
    os.makedirs(tmp)
    try:
        out = os.path.join(tmp, "result.json")
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", work, "--out", out]
        if a.smoke:
            args.append("--smoke")
        try:
            rc = run_jvm(jvm_cmd(classes, "perfbench.Main", args, tmp), deadline)
        except subprocess.TimeoutExpired:
            sys.stderr.write("benchmark JVM timed out\n")
            return 3
        if rc != 0 or not os.path.exists(out):
            sys.stderr.write(f"benchmark JVM failed (exit {rc})\n")
            return 3
        with open(out) as f:
            res = json.load(f)

        attempted, failed = res["attempted"], res["failed"]
        metrics = res["layer"] if a.trace else res["e2e"]

        env = dict(res["env"], commit=commit_id(digest), workload=a.workload,
                   trace=a.trace, seconds=a.seconds,
                   heap=HEAP, ops_failed_frac=failed / max(1, attempted))
        detail = {"env": env, "named": res["named"], "failures": res["failures"][:20]}
        if a.trace:
            detail["self_ms_per_unit"] = res["self_ms"]
            detail["untraced_end_to_end"] = res["e2e"]
            traces = os.path.join(ROOT, ".bench_build", "traces")
            os.makedirs(traces, exist_ok=True)
            detail["spans"] = os.path.join(traces, run_id + ".jsonl")
            shutil.move(os.path.join(work, "trace.jsonl"), detail["spans"])
        print(json.dumps(detail, sort_keys=True))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
