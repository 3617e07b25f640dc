#!/usr/bin/env python3
"""The benchmark's own tests. Run from the repository root:

  python3 perfbench/selftest.py

1. Negative controls (perfbench.SelfTest): the maintain gate must fail on a
   table copy with one caption flipped, the stream gate on a table copy whose
   manifest lost one file, and both must pass on exact copies.
2. Smoke: each workload at smoke size, traced, must finish, pass its checks
   and print every end-to-end and per-layer metric of BENCHMARK.json with its
   unit; both smoke runs together must take under two minutes.
Exits 0 iff everything holds.
"""
import json
import os
import shutil
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402
import run  # noqa: E402

SMOKE_LIMIT_S = 120


def negative_controls(classes):
    work = os.path.join(ROOT, ".bench_build", "selftest", uuid.uuid4().hex[:8])
    os.makedirs(work)
    try:
        cmd = run.jvm_cmd(classes, "perfbench.SelfTest", [work], work)
        return run.run_jvm(cmd, time.time() + 170) == 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def smoke(spec):
    problems = []
    t0 = time.time()
    for w in [x["name"] for x in spec["workloads"]]:
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
             "--seed", "1", "--seconds", "0", "--trace", "1", "--smoke"],
            cwd=ROOT, capture_output=True, text=True)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or len(lines) < 2:
            problems.append(f"{w}: exit {r.returncode}\n{r.stderr[-2000:]}")
            continue
        detail, result = json.loads(lines[-2]), json.loads(lines[-1])
        if not result["correct"]:
            problems.append(f"{w}: checks failed: {detail['failures']}")
        for group, printed in (("end_to_end", detail["untraced_end_to_end"]),
                               ("per_layer", result["metrics"])):
            for m in spec[group]:
                got = printed.get(m["name"])
                if got is None or got["unit"] != m["unit"]:
                    problems.append(f"{w}: {group} metric {m['name']} [{m['unit']}] printed as {got}")
    took = time.time() - t0
    if took > SMOKE_LIMIT_S:
        problems.append(f"smoke took {took:.0f} s > {SMOKE_LIMIT_S} s")
    print(f"smoke: {took:.0f} s")
    return problems


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classes, _ = build.build(ROOT)
    ok = negative_controls(classes)
    print(f"negative controls: {'ok' if ok else 'FAILED'}")
    problems = smoke(spec)
    for p in problems:
        print(p)
    return 0 if ok and not problems else 1


if __name__ == "__main__":
    sys.exit(main())
