#!/usr/bin/env python3
"""Lakehouse workload benchmark.

    python3 perfbench/run.py --workload cdc_mor --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the engine and the
harness (`perfbench/build.sbt`, an sbt project that depends on the root
build) and records the runtime classpath under `.bench_build/`; later runs
reuse it while the sources are unchanged. Each run starts one JVM with a
Spark `local[N]` session (N = available processors), repeats the
workload's set-up, times a fixed operation sequence with one closed-loop
client, checks every read and the final table state against a plain-Spark
model built from the same seeded inputs, and prints a summary followed by
one JSON line: `{"correct", "attempted", "failed", "metrics"}`. With
`--trace 0` the metrics are the end-to-end ones; with `--trace 1` they are
the per-layer ones, and the spans are written to `.bench_build/trace/`.

End-to-end metrics (times in seconds):
  setup_s     session start + the median of three set-ups (input
              generation, base load, untimed warm-up on a scratch table)
  wall_s      wall time of the timed operation sequence
  commit_s    mean latency of a write call until its snapshot is visible;
              on stream_sink_jdbc, of one micro-batch trigger
  read_s      mean latency of a read query to its collected result
  maint_s     total time in rewriteDeleteFiles and compact; on
              stream_sink_jdbc, in the consolidations the sink runs
  rows_per_s  user rows submitted to write calls / seconds in write calls
  write_amp   bytes written under the warehouse during the timed part /
              bytes of the input submitted to write calls
  space_amp   warehouse bytes at the end / bytes of the final content
              written once as partitioned parquet
The summary lines also print each timing's median, p90 and highest
percentile with ten samples beyond it, and fail_ratio (the result line's
failed / attempted). perfbench/metrics.json names, for each per-layer
metric, the end-to-end metric it should move and whether it repeats
exactly across runs of one seed.

The operation count is fixed per workload, so runs of one seed repeat the
same work; `--seconds` is the nominal measured time recorded in
BENCHMARK.json, not a stop condition. Exit status: 0 correct, 1 a
correctness failure, 2 usage or missing sources, 3 build failure, 4 the
benchmark process failed or timed out.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.arg")
STAMP = os.path.join(BUILD, "sources.sha256")
WORKLOADS = ("cdc_mor", "bulk_lifecycle", "stream_sink_jdbc")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH_DIR, "build.sbt"),
             os.path.join(BENCH_DIR, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH_DIR, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def sources_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group and return (exit code, stdout);
    the whole group is killed on timeout or when this script is told to
    stop, and waited for. Exit code None means it timed out."""
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True,
                            text=True, **kw)

    def stop(signum=None, _frame=None):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        if signum is not None:
            fail(4, f"interrupted by signal {signum}")

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        stop()
        return None, None
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_DFL)
        signal.signal(signal.SIGINT, signal.SIG_DFL)


def build():
    """Compile engine + harness unless the recorded sources match."""
    digest = sources_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    os.makedirs(BUILD, exist_ok=True)
    # every JVM the sbt script starts (its version probe too) keeps its
    # temp and perf-data files out of the system temp directory
    env = dict(os.environ, COURSIER_MODE="offline", JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", ""), "-Dsbt.offline=true",
                                f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}",
                                "-Dsbt.boot.lock=false"]).strip()
    log = os.path.join(BUILD, "build.log")
    print(f"perfbench: building (log: {os.path.relpath(log, ROOT)})", file=sys.stderr)
    with open(log, "w") as fh:
        rc, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "exportClasspath"],
                          BUILD_TIMEOUT_S, cwd=BENCH_DIR, env=env, stdout=fh,
                          stderr=subprocess.STDOUT)
    if rc != 0 or not os.path.exists(CLASSPATH):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        fail(3, "build failed")
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")


def run_java(args, work):
    # a fixed, pre-touched heap: no heap growth or first-touch page faults
    # inside the timed part
    jvm = ["java", f"@{CLASSPATH}", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dderby.system.home={work}",
           f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH_DIR, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = os.path.join(BUILD, "logs", f"{args.workload}-seed{args.seed}-trace{args.trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    cmd = jvm + ["graft.perfbench.Main", "--workload", args.workload,
                 "--seed", str(args.seed), "--trace", str(args.trace),
                 "--work", work, "--scale", args.scale]
    if args.trace:
        cmd += ["--spans", os.path.join(
            BUILD, "trace", f"{args.workload}-seed{args.seed}.jsonl")]
    with open(log, "w") as err:
        rc, out = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE, stderr=err)
    if rc is None:
        fail(4, f"benchmark timed out after {RUN_TIMEOUT_S}s (log: {log})")
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH ")]
    if rc != 0 or not lines:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(4, f"benchmark process exited {rc} without a result")
    return json.loads(lines[-1][len("PERFBENCH "):])


def summary(r, overhead):
    """Human-readable lines; the contract line follows them."""
    print(f"workload {r['workload']} seed {r['seed']} trace {r['trace']} "
          f"scale {r['scale']} cpus {r['cpus']}")
    i = r["inputs"]
    print(f"inputs: {i['rows']} rows, {i['bytes']} bytes "
          f"({i['submitted_bytes']} bytes submitted to timed writes), fingerprint {i['fingerprint']}")
    for kind, t in sorted(r["timings"].items()):
        if not t["n"]:
            continue
        sup = (f"highest percentile with 10 samples beyond it: p{round(t['supported_q'] * 100)} "
               f"{t['supported_s']:.4f} s" if "supported_q" in t
               else "no percentile above p50 has 10 samples beyond it")
        print(f"{kind}: n={t['n']} median {t['median_s']:.4f} s, p90 {t['p90_s']:.4f} s; {sup}")
    for group in ("end_to_end", "per_layer"):
        for name, m in sorted(r[group].items()):
            print(f"{group} {name} = {m['value']:.6g} {m['unit']}")
    w = r["warehouse"]
    print(f"warehouse: {w['written_bytes']} bytes written, {w['stored_bytes']} stored, "
          f"final content written once {w['live_once_bytes']}")
    print(f"correct {r['correct']}: {r['failed']} of {r['attempted']} operations failed "
          f"(fail_ratio {r['fail_ratio']:.4f}); final state digest {r['final_digest']}")
    for f in r["failures"]:
        print(f"  failure: {f}")
    if r["trace"]:
        print(f"traced operations {r['ops_traced']}, layer self times within "
              f"operation wall: {r['self_time_ok']}")
        if overhead is not None:
            print(f"tracing overhead: wall_s {overhead:+.4f} s against the untraced run of this seed")


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    args = ap.parse_args()

    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(2, "engine sources not found: run from a checkout of the repository")
    build()

    work = os.path.join(BUILD, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        r = run_java(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    key = f"{r['workload']}-{r['scale']}-seed{r['seed']}"
    wall = r["end_to_end"]["wall_s"]["value"]
    overhead = None
    if args.trace:
        try:
            with open(os.path.join(results, f"{key}-trace0.json")) as fh:
                overhead = wall - json.load(fh)["end_to_end"]["wall_s"]["value"]
        except (OSError, ValueError, KeyError):
            pass
    with open(os.path.join(results, f"{key}-trace{args.trace}.json"), "w") as fh:
        json.dump(r, fh)

    summary(r, overhead)
    metrics = r["per_layer"] if args.trace else r["end_to_end"]
    print(json.dumps({"correct": r["correct"], "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))
    sys.exit(0 if r["correct"] else 1)


if __name__ == "__main__":
    main()
