#!/usr/bin/env python3
"""Self-check of the benchmark itself.

    python3 perfbench/selfcheck.py [workload ...]

From the root of a graft checkout, for each workload named (the ones
BENCHMARK.json gates by default; any workload of run.py may be named):
a one-second run (so the workload's minimum iteration count) with
--trace 0 must emit exactly the end_to_end metrics of BENCHMARK.json, one
with --trace 1 exactly the per_layer ones, and
both must pass the correctness check. Then a run whose result is
deliberately damaged must report a failure, and a directory that holds
only BENCHMARK.json and the benchmark must make run.py fail without
printing a result. Exits non-zero on the first violated assertion.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.getcwd()
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(workload, trace, *extra, cwd=ROOT):
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "7", "--seconds", "1",
                             "--trace", str(trace), *extra]
    r = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=900)
    lines = r.stdout.strip().splitlines()
    return r.returncode, (json.loads(lines[-1]) if r.returncode == 0 and lines else None), r


def expect(cond, msg):
    if not cond:
        sys.exit(f"selfcheck FAILED: {msg}")
    print(f"selfcheck ok: {msg}")


def main():
    workloads = sys.argv[1:] or [w["name"] for w in SPEC["workloads"]]
    for w in workloads:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, res, r = run(w, trace)
            expect(code == 0 and res is not None, f"{w} trace={trace} exits 0 with a result"
                   + ("" if code == 0 else f" (stderr: {r.stderr[-2000:]})"))
            want = {m["name"]: m["unit"] for m in SPEC[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == want, f"{w} trace={trace} emits every {key} metric with its unit")
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                   f"{w} trace={trace} passes the DuckDB check")
        code, res, _ = run(w, 0, "--corrupt")
        expect(code == 0 and res["failed"] > 0 and not res["correct"],
               f"{w}: a damaged result raises op_fail_ratio above 0")
    bare = tempfile.mkdtemp(prefix="perfbench-bare-", dir=os.path.join(ROOT, ".bench_build"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in SPEC["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        code, _, r = run(workloads[0], 0, cwd=bare)
        expect(code != 0 and not r.stdout.strip(),
               "without the graft sources the benchmark fails and prints no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    main()
