#!/usr/bin/env python3
"""The engine's benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the engine and harness from source (build.py), generates the
workload's input from the seed, runs the harness (perfbench.Bench) at
local[<cores>] as a closed loop of timed engine calls, checks every output,
and prints as its last line one JSON object: correct, attempted, failed and
the metrics BENCHMARK.json names (end-to-end with --trace 0, per-layer with
--trace 1). Exits 1 if any check failed, 2 if it could not run. A harness
that outlives its time limit is killed and reported as a failed run (exit 1,
"correct": false), so a much slower engine shows as a failure, not as a run
that could not start.

--tiny shrinks every input (for selftest.py); --corrupt damages one output
after each timed call, which the checks must catch. --tables DIR runs the
queries over existing tables instead of generated ones, to compare the
generator with them (tablecmp.py).
"""
import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402

WORKLOADS = ("dedup", "queries")
# A run must end within 180 s of its start, build excluded. The harness gets
# what is left after the build and the table generator, less the time the
# output checks need.
RUN_LIMIT_S = 175
CHECK_RESERVE_S = {"dedup": 5, "queries": 25}
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    """Could not run: no result line, exit 2."""
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def gen_tables(work, tiny, seed):
    """Seeded query tables, generated three times; set-up counts the median
    CPU time."""
    import tablegen
    tables = os.path.join(work, "tables")
    times = []
    for _ in range(3):
        t = time.process_time()
        tablegen.generate(tables, 0.001 if tiny else 0.01, seed)
        times.append(time.process_time() - t)
    return tables, statistics.median(times)


def oracle_check(tables, pass_dir, qout):
    """The repository's DuckDB oracle compare over one pass's outputs."""
    shutil.copy(os.path.join(qout, "oracle_sql.json"), pass_dir)
    r = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "check_oracle.py"),
                        tables, pass_dir], stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    bad = [line for line in r.stdout.splitlines() if line.startswith("FAIL")]
    return r.returncode == 0, bad


def timed_out(bench, a, limit, progress):
    """The harness outlived its limit: every unit it started counts as
    failed, and no metric was measured."""
    attempted = 1 + sum(1 for line in progress if re.match(r"\[perfbench\] unit \d+ wall=", line))
    print(f"[perfbench] harness killed after {limit:.0f} s; {attempted} unit(s) counted as failed")
    layer = "per_layer" if a.trace else "end_to_end"
    print(json.dumps({"correct": False, "attempted": attempted, "failed": attempted,
                      "metrics": {m["name"]: {"value": 0.0, "unit": m["unit"]}
                                  for m in bench[layer]}}))
    sys.exit(1)


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true")
    p.add_argument("--tables")
    p.add_argument("--corrupt", action="store_true")
    a = p.parse_args()
    bench = spec()

    try:
        classes = build.build()
    except build.BuildError as e:
        fail(str(e))
    t_start = time.perf_counter()
    jars = build.spark_jars()
    work = os.path.join(build.build_dir(), "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))

    out = os.path.join(work, "result.json")
    cmd = (["java"] + [x for pkg in ADD_OPENS for x in ("--add-opens", f"java.base/{pkg}=ALL-UNNAMED")]
           + ["-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
              "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
              "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
              "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Bench",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--out", out,
              "--golden", os.path.join(HERE, "golden.json")]
           + (["--tiny"] if a.tiny else []) + (["--corrupt"] if a.corrupt else []))
    tables = None
    if a.workload == "queries":
        tables, gen_s = (os.path.abspath(a.tables), 0.0) if a.tables else \
            gen_tables(work, a.tiny, a.seed)
        cmd += ["--tables", tables, "--pre-setup-cpu-s", str(gen_s)]

    t_jvm = time.perf_counter()
    limit = RUN_LIMIT_S - CHECK_RESERVE_S[a.workload] - (t_jvm - t_start)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    with open(log_path, errors="replace") as f:
        log_text = f.read()
    progress = [line for line in log_text.splitlines() if line.startswith("[perfbench]")]
    for line in progress:
        print(line)
    if rc == "timeout":
        timed_out(bench, a, limit, progress)
    if rc != 0 or not os.path.exists(out):
        fail(f"harness exit {rc}\n{log_text[-3000:]}")
    with open(out) as f:
        res = json.load(f)

    units = res["units"]
    t_check = time.perf_counter()
    if a.workload == "queries":
        qout = os.path.join(work, "qout")
        for i, u in enumerate(units, start=1):
            pass_dir = os.path.join(qout, f"pass-{i}")
            if u["ok"] and os.path.isdir(pass_dir):
                ok, bad = oracle_check(tables, pass_dir, qout)
                if not ok:
                    u["ok"] = False
                    u["note"] += " oracle: " + "; ".join(bad)[:500]
                    print(f"[perfbench] pass {i} failed the oracle: {bad}")
    good = [u for u in units if u["ok"]]
    attempted, failed = len(units), len(units) - len(good)
    correct = failed == 0

    def med(key):
        return statistics.median(u[key] for u in good) if good else 0.0

    wall, net, cpu = med("wall_s"), med("net_wall_s"), med("cpu_s")
    e2e = {
        "setup_s": res["setup_s"],
        "wall_s": net,
        "docs_per_s": res["input_docs"] / net if net > 0 else 0.0,
        "cpu_s": cpu,
        "dup_pair_recall": med("recall"),
        "store_bytes_per_input_byte": med("store_ratio"),
        "ok_frac": len(good) / attempted,
    }
    print(f"[perfbench] {a.workload} seed={a.seed} units={attempted} failed={failed} "
          f"n={len(good)} median wall_s={wall:.4f} net_wall_s={net:.4f} cpu_s={cpu:.4f} "
          f"setup_s={res['setup_s']:.3f} jvm_wall_s={t_check - t_jvm:.1f} "
          f"checks_wall_s={time.perf_counter() - t_check:.1f}")
    if a.trace:
        names = [(m["name"], m["unit"]) for m in bench["per_layer"]]
        metrics = {n: {"value": res["layer"].get(n) or 0.0, "unit": u} for n, u in names}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
