#!/usr/bin/env python3
"""Self-test of the benchmark harness at tiny input sizes.

    python3 perfbench/selftest.py

For every workload it checks that
  - an untraced run is correct and emits every end-to-end metric that
    BENCHMARK.json names, with its unit, as a positive number;
  - a traced run emits every per-layer metric with its unit and writes its
    span file;
  - a run with --corrupt (one output damaged after each timed call) fails
    its gate: nonzero exit and "correct": false.
It also checks that the benchmark refuses to run, without printing a
result, from a directory holding only BENCHMARK.json and perfbench/.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402


def run(root, *args):
    r = subprocess.run([sys.executable, os.path.join(root, "perfbench", "run.py"), *args],
                       cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=600)
    lines = r.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return r.returncode, result, r.stdout


def expect(cond, what, out=""):
    if not cond:
        sys.exit(f"selftest FAILED: {what}\n{out[-3000:]}")
    print(f"ok: {what}")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in (x["name"] for x in spec["workloads"]):
        base = ["--workload", w, "--seed", "1", "--seconds", "1", "--tiny"]
        rc, res, out = run(ROOT, *base, "--trace", "0")
        expect(rc == 0 and res and res["correct"] and res["failed"] == 0,
               f"{w}: untraced run is correct", out)
        for m in spec["end_to_end"]:
            got = res["metrics"].get(m["name"])
            expect(got is not None and got["unit"] == m["unit"] and got["value"] > 0,
                   f"{w}: {m['name']} emitted in {m['unit']}", out)
        rc, res, out = run(ROOT, *base, "--trace", "1")
        expect(rc == 0 and res and res["correct"], f"{w}: traced run is correct", out)
        missing = [m["name"] for m in spec["per_layer"]
                   if res["metrics"].get(m["name"], {}).get("unit") != m["unit"]]
        expect(not missing, f"{w}: every per-layer metric emitted with its unit {missing}", out)
        spans = os.path.join(build.build_dir(), "work", w, "trace", f"spans-{w}-1.jsonl")
        expect(os.path.getsize(spans) > 0, f"{w}: span file written", out)
        rc, res, out = run(ROOT, *base, "--trace", "0", "--corrupt")
        expect(rc != 0 and res and not res["correct"] and res["failed"] > 0,
               f"{w}: a corrupted output fails the gate", out)

    bare = os.path.join(build.build_dir(), "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    try:
        rc, res, out = run(bare, "--workload", spec["workloads"][0]["name"], "--seed", "1",
                           "--seconds", "1", "--trace", "0")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    expect(rc != 0 and res is None, "refuses to run without the engine sources", out)
    print("selftest passed")


if __name__ == "__main__":
    main()
