#!/usr/bin/env python3
"""End-to-end benchmark of the medallion lake: one run of one workload.

    python3 perfbench/run.py --workload medallion_batch|stream_cycles|index_serving \
        --seed N --seconds S --trace 0|1 [--keep DIR]

Builds the program from source (once per checkout, see build.py), makes the
run's inputs from the seed (datagen.py), starts one JVM that sets up, warms up
and then times a closed loop of library calls for S seconds (src/perfbench),
checks every output against a computation made apart from the program
(checks.py, DuckDB), and prints one JSON object as the last line of stdout:
the end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1), as
named in BENCHMARK.json. --keep copies the run's inputs and outputs to DIR.
index_serving runs but is not among BENCHMARK.json's workloads (see README.md).
"""
import time

START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

import build  # noqa: E402
import checks  # noqa: E402
import datagen  # noqa: E402

WORKLOADS = ("medallion_batch", "stream_cycles", "index_serving")
MEDALLION_DAYS = 20  # slice length: 20 bronze and ~100 gold partitions per pass
STREAM_FILES = 400  # more days than any run lands
SERVING_BATCHES = 2000  # more query batches than any run sends
JVM_TIMEOUT_S = 160
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    return max(1, min(4, len(os.sched_getaffinity(0))))


def stage_inputs(workload, seed, data):
    """Writes the run's inputs; returns what the checks need to know of them."""
    os.makedirs(data)
    if workload == "medallion_batch":
        first, rows = datagen.write_orders_slice(
            seed, MEDALLION_DAYS, os.path.join(data, "orders.parquet"))
        datagen.write_customers(seed, os.path.join(data, "customer.parquet"))
        return {"first_day": first, "rows": rows}
    if workload == "stream_cycles":
        names = datagen.write_stream_files(seed, STREAM_FILES, os.path.join(data, "stream"))
        with open(os.path.join(data, "stream_files.txt"), "w") as f:
            f.write("".join(f"{n} {datagen.ORDERS_PER_DAY}\n" for n in names))
        return {}
    datagen.write_corpus(seed, os.path.join(data, "documents.parquet"),
                         os.path.join(data, "embeddings.parquet"))
    with open(os.path.join(data, "queries.txt"), "w") as f:
        for ids in datagen.query_sample(seed, SERVING_BATCHES, 5):
            f.write(" ".join(map(str, ids)) + "\n")
    return {}


def run_jvm(classes, args, work, out):
    jars = os.path.join(build.spark_jars(), "*")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + JVM_OPENS + ["-cp", f"{classes}:{jars}", "perfbench.Main",
                          "--workload", args.workload, "--seconds", str(args.seconds),
                          "--trace", str(args.trace), "--cores", str(cores()),
                          "--data", os.path.join(work, "data"),
                          "--work", work, "--out", out])
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"JVM run ended with {code}:\n{tail}")
    with open(os.path.join(out, "jvm_result.json")) as f:
        return json.load(f)


def unit_of(name):
    return "ms" if name.endswith("_ms") else "s" if name.endswith("_s") else "count"


def end_to_end(jvm, build_s):
    op_ms = jvm["op_ms"]
    return {
        "setup_s": (jvm["first_op_epoch_ms"] / 1000.0 - START) - build_s,
        "op_ms_p50": statistics.median(op_ms),
        "rows_per_s": sum(jvm["rows_per_op"]) / (sum(op_ms) / 1000.0),
        "lake_mb": jvm["lake_bytes"] / 1e6,
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", help="copy the run's inputs and outputs here")
    args = ap.parse_args()

    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    try:
        classes, build_s = build.classes_dir()
    except build.BuildError as e:
        log(str(e))
        return 2
    if build_s:
        log(f"built {classes} in {build_s:.1f} s")

    work = os.path.join(build.BUILD_ROOT, "runs", f"{os.getpid()}-{args.workload}")
    shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(work, "out")
    try:
        facts = stage_inputs(args.workload, args.seed, os.path.join(work, "data"))
        jvm = run_jvm(classes, args, work, out)
        failures = checks.CHECKS[args.workload](os.path.join(work, "data"), out, jvm, facts)
        for msg in failures:
            log(f"CHECK FAILED: {msg}")
        if args.trace:
            # every metric BENCHMARK.json names (0 where the workload does not
            # reach the layer), then any the workload adds beyond them
            names = spec["per_layer"] + [{"name": n, "unit": unit_of(n)} for n in
                                         sorted(set(jvm["layers"]) - {m["name"] for m
                                                                    in spec["per_layer"]})]
            values = {m["name"]: float(jvm["layers"].get(m["name"], 0.0)) for m in names}
            shutil.copyfile(os.path.join(out, "trace.json"),
                            os.path.join(build.BUILD_ROOT, f"trace-{args.workload}.json"))
        else:
            names = spec["end_to_end"]
            values = end_to_end(jvm, build_s)
        if args.keep:
            shutil.rmtree(args.keep, ignore_errors=True)
            shutil.copytree(work, args.keep, ignore=shutil.ignore_patterns(
                "spark-local", "tmp", "warehouse"))
            with open(os.path.join(args.keep, "facts.json"), "w") as f:
                json.dump(facts, f)
        result = {
            "correct": not failures,
            "attempted": jvm["attempted"],
            "failed": jvm["failed"],
            "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                        for m in names},
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
