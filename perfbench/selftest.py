#!/usr/bin/env python3
"""Self-test of the benchmark's correctness checks.

Runs each workload once (short), keeps its real inputs and outputs, shows that
its check passes on them, then damages a copy of the outputs in one way at a
time (a row dropped, a sum changed, a duplicate added, ...) and shows that the
check fails on every damaged copy. Exits 1 if any damage goes unnoticed.

    python3 perfbench/selftest.py [workload ...]
"""
import json
import os
import shutil
import subprocess
import sys

import duckdb

import build
import checks

HERE = os.path.dirname(os.path.abspath(__file__))


def rewrite(table_dir, *statements):
    """Applies SQL statements to the parquet table in `table_dir` (as `t`)."""
    con = duckdb.connect()
    con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{table_dir}/*.parquet')")
    for s in statements:
        con.execute(s)
    shutil.rmtree(table_dir)
    os.makedirs(table_dir)
    con.execute(f"COPY t TO '{table_dir}/part-0.parquet' (FORMAT parquet)")


def edit_lines(path, fn):
    with open(path) as f:
        lines = f.read().splitlines()
    with open(path, "w") as f:
        f.write("\n".join(fn(lines)) + "\n")


def edit_jvm(path, fn):
    with open(path) as f:
        jvm = json.load(f)
    fn(jvm)
    with open(path, "w") as f:
        json.dump(jvm, f)


def _csv_row(i, fn):
    def go(lines):
        fields = lines[i].split(",")
        lines[i] = ",".join(fn(fields))
        return lines
    return go


def _set(d, path, value):
    for k in path[:-1]:
        d = d[k]
    d[path[-1]] = value


DAMAGES = {
    "medallion_batch": [
        ("daily_sales row dropped", lambda o: rewrite(
            f"{o}/daily_sales", "DELETE FROM t WHERE rowid = 3")),
        ("daily_sales revenue changed", lambda o: rewrite(
            f"{o}/daily_sales",
            "UPDATE t SET total_revenue = total_revenue + 0.01 WHERE rowid = 0")),
        ("daily_sales order count changed", lambda o: rewrite(
            f"{o}/daily_sales", "UPDATE t SET total_orders = total_orders + 1 "
                                "WHERE rowid = 1")),
        ("clv row dropped", lambda o: rewrite(f"{o}/clv", "DELETE FROM t WHERE rowid = 5")),
        ("clv lifetime value changed", lambda o: rewrite(
            f"{o}/clv", "UPDATE t SET lifetime_value = lifetime_value * 2 WHERE rowid = 2")),
        ("silver lost a row", lambda o: edit_jvm(
            f"{o}/jvm_result.json",
            lambda j: _set(j, ["counts", "silver_rows"], j["counts"]["silver_rows"] - 1))),
        ("a pass reported quarantine", lambda o: edit_jvm(
            f"{o}/jvm_result.json",
            lambda j: _set(j, ["summaries", 0, "quarantined"], True))),
    ],
    "stream_cycles": [
        ("view row dropped", lambda o: rewrite(f"{o}/view", "DELETE FROM t WHERE rowid = 7")),
        ("view sum changed", lambda o: rewrite(
            f"{o}/view",
            "UPDATE t SET sum_order_amount = sum_order_amount + 1 WHERE rowid = 0")),
        ("view count changed", lambda o: rewrite(
            f"{o}/view", "UPDATE t SET n_rows = n_rows + 1 WHERE rowid = 2")),
        ("bronze order landed twice", lambda o: rewrite(
            f"{o}/bronze", "UPDATE t SET order_id = (SELECT order_id FROM t WHERE rowid = 1) "
                           "WHERE rowid = 0")),
        ("bronze row dropped", lambda o: rewrite(
            f"{o}/bronze", "DELETE FROM t WHERE rowid = 11")),
        ("one more file landed than the view saw", lambda o: (
            edit_lines(f"{o}/landed.txt", lambda ls: ls + [f"orders-{len(ls):05d}.json"]),
            edit_jvm(f"{o}/jvm_result.json", lambda j: _set(j, ["landed"], j["landed"] + 1)))),
    ],
    "index_serving": [
        ("result row dropped", lambda o: edit_lines(
            f"{o}/serving_results.csv", lambda ls: ls[1:])),
        ("rank repeated", lambda o: edit_lines(
            f"{o}/serving_results.csv",
            _csv_row(1, lambda f: f[:2] + ["1"] + f[3:]))),
        ("unknown document returned", lambda o: edit_lines(
            f"{o}/serving_results.csv",
            _csv_row(2, lambda f: f[:3] + ["99999999"] + f[4:]))),
        ("score rises with rank", lambda o: edit_lines(
            f"{o}/serving_results.csv",
            _csv_row(4, lambda f: f[:4] + [str(float(f[4]) + 1.0)]))),
        ("oracle batch score changed", lambda o: edit_lines(
            f"{o}/serving_results.csv",
            lambda ls: [(",".join(x.split(",")[:4] + [str(float(x.split(",")[4]) * 0.999)])
                         if x.startswith("oracle,") and x.split(",")[2] == "10" else x)
                        for x in ls])),
        ("oracle batch document swapped", lambda o: edit_lines(
            f"{o}/serving_results.csv",
            lambda ls: [(",".join(x.split(",")[:3] + ["4999"] + x.split(",")[4:])
                         if x.startswith("oracle,") and x.split(",")[2] == "10" else x)
                        for x in ls])),
    ],
}


def check(workload, kept):
    out, data = os.path.join(kept, "out"), os.path.join(kept, "data")
    with open(os.path.join(out, "jvm_result.json")) as f:
        jvm = json.load(f)
    with open(os.path.join(kept, "facts.json")) as f:
        facts = json.load(f)
    return checks.CHECKS[workload](data, out, jvm, facts)


def main():
    workloads = sys.argv[1:] or list(DAMAGES)
    scratch = os.path.join(build.BUILD_ROOT, "selftest")
    missed = []
    for w in workloads:
        kept = os.path.join(scratch, w)
        subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                        "--seed", "1", "--seconds", "3", "--trace", "0", "--keep", kept],
                       check=True, stdout=subprocess.DEVNULL)
        base = check(w, kept)
        print(f"{w}: real outputs -> {'pass' if not base else base}")
        if base:
            missed.append(f"{w}: check fails on undamaged outputs")
        for name, damage in DAMAGES[w]:
            copy = kept + ".damaged"
            shutil.rmtree(copy, ignore_errors=True)
            shutil.copytree(kept, copy)
            damage(os.path.join(copy, "out"))
            fails = check(w, copy)
            print(f"  {name}: {'caught: ' + fails[0] if fails else 'NOT CAUGHT'}")
            if not fails:
                missed.append(f"{w}: {name}")
            shutil.rmtree(copy)
    shutil.rmtree(scratch, ignore_errors=True)
    if missed:
        print("self-test FAILED:", "; ".join(missed))
        return 1
    print("self-test passed: every damaged output was caught")
    return 0


if __name__ == "__main__":
    sys.exit(main())
