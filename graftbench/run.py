#!/usr/bin/env python3
"""graft benchmark: closed-loop workloads over the program's public API.

  python3 graftbench/run.py --workload W --seed N --seconds S --trace 0|1
  python3 graftbench/run.py --workload all [--seed N] [--seconds S]

W is one of lifecycle, queries (METRICS.md). Each run builds the
program from source if needed (build.py), generates its inputs from the
seed (gen.py), then runs the workload in a fresh JVM on local[nproc] with
a fresh work directory. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 the
per-layer metrics, and the traced run's spans and per-layer self-time
table are written under .graftbench_out/. `--workload all` runs every
workload untraced, prints every metric by name with its unit, and exits
non-zero on any correctness failure.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("lifecycle", "queries")
SETUP_REPEATS = 3
TABLE_VARIANTS = 4  # goldens.json holds one set of goldens per variant
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def generate(workload, seed, out):
    """Write the workload's inputs under `out`; returns the seconds it took."""
    t0 = time.perf_counter()
    if workload == "queries":
        gen.tables(seed % TABLE_VARIANTS, os.path.join(out, "tables"))
    else:
        gen.landing(seed, os.path.join(out, "landing"))
        gen.batches(seed, os.path.join(out, "batches"))
    return time.perf_counter() - t0


def jvm_command(classpath, work, args):
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    return (["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
             "-Dio.netty.tryReflectionSetAccessible=true", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={work}/tmp"] + opens +
            ["-cp", os.pathsep.join(classpath), "graftbench.Main"] + args)


def run_jvm(cmd, log_path):
    """Run the JVM to completion (killing it on timeout); returns its exit code."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return -9


def run_one(workload, seed, seconds, trace, spec):
    """Run one workload in a fresh JVM and work directory; returns the result dict."""
    classpath = build.build()
    tag = f"{workload}-seed{seed}-trace{trace}"
    work = os.path.join(ROOT, ".graftbench_work", f"{tag}-{os.getpid()}")
    out = os.path.join(ROOT, ".graftbench_out", tag)
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out)
    try:
        # Set-up is repeated: the median input generation joins the one
        # JVM start (session, warmup, input load) measured below.
        gen_s = []
        for i in range(SETUP_REPEATS):
            gen_s.append(generate(workload, seed, os.path.join(work, f"inputs{i}")))
        for i in range(1, SETUP_REPEATS):
            shutil.rmtree(os.path.join(work, f"inputs{i}"))
        result_path = os.path.join(out, "result.json")
        args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                "--trace", str(trace), "--inputs", os.path.join(work, "inputs0"),
                "--work", work, "--out", result_path,
                "--goldens", os.path.join(HERE, "goldens.json"), "--artifacts", out]
        launched = time.time()
        code = run_jvm(jvm_command(classpath, work, args), os.path.join(out, "jvm.log"))
        if code != 0 or not os.path.exists(result_path):
            raise SystemExit(f"{workload}: JVM exited with {code}; see {out}/jvm.log")
        with open(result_path) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    raw = dict(res["metrics"])
    if not trace:
        raw["setup_s"] = statistics.median(gen_s) + res["ready_epoch_ms"] / 1000.0 - launched
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if raw.get(m["name"]) is None]
    if missing and res["correct"]:
        raise SystemExit(f"{workload}: metrics not reported: {missing}")
    res["metrics"] = {m["name"]: {"value": raw.get(m["name"]), "unit": m["unit"]} for m in wanted}
    return res


def summary(res):
    return {k: res[k] for k in ("correct", "attempted", "failed", "metrics")}


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=None)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = a.seconds if a.seconds is not None else spec["run_seconds"]
    if a.workload != "all":
        res = run_one(a.workload, a.seed, seconds, a.trace, spec)
        for e in res["errors"]:
            print(f"[graftbench] {a.workload}: {e}", file=sys.stderr)
        print(json.dumps(summary(res)))
        return 0 if res["correct"] else 1
    results, ok = {}, True
    for w in WORKLOADS:
        res = run_one(w, a.seed, seconds, 0, spec)
        ok &= res["correct"]
        results[w] = summary(res)
        print(f"== {w}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} error_rate={res['error_rate']}")
        for e in res["errors"]:
            print(f"   error: {e}")
        for name, m in res["metrics"].items():
            print(f"   {name:<14} {m['value'] if m['value'] is not None else float('nan'):>14.4f} {m['unit']}")
    print(json.dumps(results))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
