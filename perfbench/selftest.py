#!/usr/bin/env python3
"""Tiny-input self-test of the benchmark.

    python3 perfbench/selftest.py [workload ...]

Runs every workload end to end at `--scale tiny` (one set-up per run),
three times on one seed: untraced, traced, traced again. Checks that

  - each run exits 0 with correct = true and no failed operation;
  - the untraced run emits every end-to-end metric of BENCHMARK.json with
    its unit, and the traced run every per-layer metric;
  - the final table state is identical with the tracing catalog wrapper
    and listeners on and off, and the inputs are identical for one seed;
  - the counts marked exact in perfbench/metrics.json repeat exactly;
  - the traced run wrote spans, its layer self times fit inside each
    operation's wall time, and it reported the tracing overhead;
  - run.py refuses (non-zero exit, no result) in a directory holding only
    BENCHMARK.json and perfbench/.

Exits non-zero on the first failed check.
"""

import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
from run import WORKLOADS  # noqa: E402  (perfbench/run.py, beside this file)

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
SEED = 7


def load(path):
    with open(path) as fh:
        return json.load(fh)


def check(ok, msg):
    if not ok:
        print(f"FAIL: {msg}")
        sys.exit(1)
    print(f"ok: {msg}")


def run(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace),
         "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True)
    check(p.returncode == 0, f"{workload} trace {trace} exits 0 (got {p.returncode}: "
                             f"{p.stderr[-400:].strip()})")
    lines = p.stdout.strip().splitlines()
    line = json.loads(lines[-1])
    check(set(line) == {"correct", "attempted", "failed", "metrics"},
          f"{workload} trace {trace} last line has exactly the contract keys")
    check(line["correct"] and line["failed"] == 0 and line["attempted"] >= 1,
          f"{workload} trace {trace} correct with 0 failed of {line['attempted']}")
    full = load(os.path.join(ROOT, ".bench_build", "results",
                             f"{workload}-tiny-seed{SEED}-trace{trace}.json"))
    return line, full, p.stdout


def units_match(metrics, spec, what):
    for m in spec:
        got = metrics.get(m["name"])
        check(got is not None and got["unit"] == m["unit"]
              and isinstance(got["value"], (int, float)),
              f"{what} metric {m['name']} emitted in {m['unit']}")


def refuses_outside_checkout():
    bare = os.path.join(ROOT, ".bench_build", "bare-checkout")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(BENCH_DIR, os.path.join(bare, "perfbench"))
    try:
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                            "bulk_lifecycle", "--seed", "1", "--seconds", "1",
                            "--trace", "0"], cwd=bare, capture_output=True,
                           text=True, timeout=180)
        check(p.returncode != 0 and '"metrics"' not in p.stdout,
              "run.py exits non-zero without a result outside a checkout")
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main():
    bench = load(os.path.join(ROOT, "BENCHMARK.json"))
    meta = load(os.path.join(BENCH_DIR, "metrics.json"))
    exact = [k for k, v in meta["per_layer"].items() if v["exact"]]
    check(sorted(meta["per_layer"]) == sorted(m["name"] for m in bench["per_layer"]),
          "metrics.json describes exactly the per-layer metrics of BENCHMARK.json")
    refuses_outside_checkout()
    workloads = sys.argv[1:] or list(WORKLOADS)
    for w in workloads:
        line0, full0, _ = run(w, 0)
        units_match(line0["metrics"], bench["end_to_end"], f"{w} end-to-end")
        line1, full1, out1 = run(w, 1)
        units_match(line1["metrics"], bench["per_layer"], f"{w} per-layer")
        line2, full2, _ = run(w, 1)
        check(full0["final_digest"] == full1["final_digest"] == full2["final_digest"],
              f"{w} final state identical with tracing off and on ({full0['final_digest']})")
        check(full1["inputs"]["fingerprint"] == full2["inputs"]["fingerprint"],
              f"{w} same seed gives the same inputs")
        for k in exact:
            a, b = line1["metrics"][k]["value"], line2["metrics"][k]["value"]
            check(a == b, f"{w} {k} repeats exactly ({a} vs {b})")
        also = [k for k, m in line1["metrics"].items() if k not in exact
                and m["value"] == line2["metrics"][k]["value"] and m["value"] != 0]
        print(f"info: {w} also repeated exactly, not marked exact: {', '.join(sorted(also)) or 'none'}")
        check(full1["self_time_ok"] and full1["ops_traced"] >= 1,
              f"{w} layer self times within each of {full1['ops_traced']} operations' wall")
        spans = os.path.join(ROOT, ".bench_build", "trace", f"{w}-seed{SEED}.jsonl")
        with open(spans) as fh:
            first = json.loads(fh.readline())
        check({"name", "start_s", "end_s", "parent", "op"} <= set(first),
              f"{w} spans written with name, start, end, parent and op")
        check("tracing overhead:" in out1, f"{w} traced run reports tracing overhead")
    print("selftest passed")


if __name__ == "__main__":
    main()
