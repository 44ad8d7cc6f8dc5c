#!/usr/bin/env python3
"""graft's end-to-end benchmark, driven from outside the engine.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload sql_reads --seed 1 --seconds 10 --trace 0

It compiles graft's main sources together with the harness in
perfbench/harness (into .bench_build/, reused while the sources are
unchanged), starts one JVM with a fixed heap and a fresh private
java.io.tmpdir, and runs the workload there: a cold pass on empty
state, an untimed check pass whose outputs are compared with the row
counts and digests in perfbench/expected.json, then timed passes in a
seed-permuted order (one client, closed loop). The last line of stdout
is one JSON object: end-to-end metrics with --trace 0, per-layer
metrics with --trace 1. The exit code is non-zero on a wrong output.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import digest  # noqa: E402
from build import build, die, spark_jars  # noqa: E402

# Queries of each workload, by SparkEntry.queries key up to the first `_`
# (or a longer prefix). BENCHMARK.json and README.md say why each exists.
WORKLOADS = {
    "sql_reads": "r1 r2 r5 r12 q1 q3 q9 q18 w9",
    "corpus_reads": "n9 d12 t7 ts13 j5",
}

CORES = 4
HEAP = "3g"
MIN_SAMPLES = 40
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JVM_FLAGS = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData", "-Xss4m"] + \
    [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + \
    ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


def percentile(xs, q):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def launch(cmd, log, timeout):
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def run_harness(root, workload, seed, seconds, trace):
    """Runs one workload in a fresh JVM; returns (result dict, launch time,
    run dir). The run dir holds the private state and the check outputs;
    the caller removes it with cleanup()."""
    jars = spark_jars(root)
    data = os.path.join(HERE, "data", "sf0.01")
    classes = build(root, jars)
    run_dir = os.path.join(root, ".bench_build", f"run-{workload}-{seed}-{os.getpid()}")
    tmpdir = os.path.join(run_dir, "tmp")
    try:
        os.makedirs(tmpdir)
        for d in ("spark-local", "out"):
            os.makedirs(os.path.join(run_dir, d))
    except OSError as e:
        die(f"cannot create empty private state {tmpdir}: {e}")
    if os.listdir(tmpdir):
        die(f"private state {tmpdir} is not empty")
    out = os.path.join(run_dir, "out")
    cmd = ["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={tmpdir}", "-cp", f"{classes}:{jars}",
                                  "perfbench.Harness",
                                  "queries=" + ",".join(WORKLOADS[workload].split()), f"seed={seed}",
                                  f"seconds={seconds}", f"minSamples={MIN_SAMPLES}",
                                  f"trace={trace}", f"data={data}", f"cores={CORES}", f"out={out}",
                                  "sparkLocal=" + os.path.join(run_dir, "spark-local")]
    t_launch = time.time()
    log = os.path.join(run_dir, "jvm.log")
    try:
        rc = launch(cmd, log, RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        rc = "timeout"
    except BaseException:
        cleanup(run_dir)
        raise
    res_file = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(res_file):
        with open(log, errors="replace") as f:
            tail = f.read()[-3000:]
        shutil.copyfile(log, os.path.join(root, ".bench_build", "failed-run.log"))
        cleanup(run_dir)
        print(tail, file=sys.stderr)
        die(f"harness exited with {rc}")
    shutil.copyfile(res_file, os.path.join(root, ".bench_build", f"result-{workload}-seed{seed}.json"))
    with open(res_file) as f:
        res = json.load(f)
    return res, t_launch, run_dir


def cleanup(run_dir):
    shutil.rmtree(run_dir, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a SIGTERM unwinds through launch(), which kills the JVM's process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src/main/scala/graft/SparkEntry.scala")):
        die("run from the root of a graft checkout (src/main/scala/graft is missing)")

    res, t_launch, run_dir = run_harness(root, a.workload, a.seed, a.seconds, a.trace)
    queries = res["queries"]
    try:
        expected = json.load(open(os.path.join(HERE, "expected.json")))
        check = digest.check_outputs(os.path.join(run_dir, "out"), queries, expected,
                                     res["check_errors"])
        trace_file = None
        if a.trace:
            trace_file = os.path.join(root, ".bench_build",
                                      f"trace-{a.workload}-seed{a.seed}.jsonl")
            shutil.copyfile(os.path.join(run_dir, "out", "trace.jsonl"), trace_file)
    finally:
        cleanup(run_dir)

    samples = res["samples"]
    timed = [s for s in samples if s["pass"] >= 1]
    threw = [s for s in samples if "error" in s]
    lat = [s["total_s"] for s in timed if "error" not in s]
    attempted = len(samples) + len(queries)
    failed = len(threw) + len(check)
    calib = (res["calib_before_s"] + res["calib_after_s"]) / 2
    e2e = {
        "setup_s": res["first_timed_epoch_ms"] / 1000 - t_launch - res["calib_before_s"],
        "query_p50_s": percentile(lat, 0.5) if lat else float("nan"),
        "query_p75_s": percentile(lat, 0.75) if lat else float("nan"),
        "queries_per_s": len(lat) / sum(res["pass_walls"]),
        "cold_pass_s": res["cold_pass_s"],
        "heap_live_mb": res["heap_live_mb"],
    }
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for q, why in check.items():
        print(f"perfbench: CHECK FAILED {q}: {why}", file=sys.stderr)
    for s in threw:
        print(f"perfbench: pass {s['pass']} {s['query']} threw: {s['error']}", file=sys.stderr)
    info = {
        "workload": a.workload, "seed": a.seed, "queries": len(queries),
        "samples": len(timed), "timed_passes": len(res["pass_walls"]),
        "pass_walls": [round(x, 2) for x in res["pass_walls"]], "check_pass_s": round(res["check_pass_s"], 2),
        "run_wall_s": round(time.time() - t_launch, 2),
        "fail_frac": failed / attempted, "host.calib_s": round(calib, 4),
        "stored_bytes_per_input_byte": res["state_bytes"] / digest.input_bytes(),
        "jvm_flags": " ".join(f for f in JVM_FLAGS if not f.startswith("--add-opens")
                              and "=ALL-UNNAMED" not in f),
    }
    for k, v in e2e.items():
        n = f" (n={len(lat)})" if k.startswith("query_p") else ""
        print(f"{k} = {v:.4f} {units[k]}{n}")
    print("info " + json.dumps(info))
    if a.trace:
        metrics = dict(res["per_layer"])
        metrics["host.calib_s"] = calib
        print(f"trace spans written to {os.path.relpath(trace_file, root)}")
    else:
        metrics = e2e
    wanted = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    if sorted(metrics) != sorted(wanted):
        die(f"metrics {sorted(metrics)} do not match BENCHMARK.json {sorted(wanted)}")
    out = {k: {"value": metrics[k], "unit": units[k]} for k in wanted}
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
