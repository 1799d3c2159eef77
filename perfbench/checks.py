"""Correctness checks of one benchmark run, computed apart from the program.

Each check reads the run's inputs and the outputs the JVM left, recomputes the
expected result in DuckDB (with the program's own oracle SQL where it has one)
and returns a list of failure messages; an empty list means the run's outputs
are correct. selftest.py runs every check on damaged copies of real outputs.
"""
import datetime
import json
import math
import os

import duckdb

REL_TOL = 1e-9


def _norm(v):
    if isinstance(v, float):
        return v
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()[:10]
    return v


def _same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        return (a is not None and b is not None
                and math.isclose(float(a), float(b), rel_tol=REL_TOL, abs_tol=1e-9))
    return a == b


def compare_rows(label, got, expected):
    """Both are lists of tuples sorted by their leading key columns."""
    if len(got) != len(expected):
        return [f"{label}: {len(got)} rows, expected {len(expected)}"]
    for i, (g, e) in enumerate(zip(got, expected)):
        g, e = tuple(map(_norm, g)), tuple(map(_norm, e))
        if len(g) != len(e) or not all(_same(x, y) for x, y in zip(g, e)):
            return [f"{label}: row {i} is {g}, expected {e}"]
    return []


def _query(con, sql):
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def _oracle_compare(con, label, oracle_sql, got_path, keys):
    cols, expected = _query(con, f"SELECT * FROM ({oracle_sql}) ORDER BY {keys}")
    select = ", ".join(cols)
    _, got = _query(con, f"SELECT {select} FROM read_parquet('{got_path}/*.parquet') "
                         f"ORDER BY {keys}")
    return compare_rows(label, got, expected), len(expected)


def medallion_batch(data, out, jvm, facts):
    """Gold daily sales and CLV equal DuckDB running the program's oracle SQL over
    the same slice; order counts and revenue add up across the layers."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{data}/orders.parquet')")
    con.execute(f"CREATE VIEW customer AS SELECT * FROM "
                f"read_parquet('{data}/customer.parquet')")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        sql = json.load(f)
    fails, n_daily = _oracle_compare(con, "gold daily_sales", sql["daily_sales"],
                                     f"{out}/daily_sales", "sale_date, region")
    clv_fails, n_clv = _oracle_compare(con, "gold clv", sql["clv"], f"{out}/clv",
                                       "customer_id")
    fails += clv_fails
    rows, amount = con.execute(
        "SELECT count(*), sum(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE FROM orders"
    ).fetchone()
    total_orders, total_revenue = con.execute(
        f"SELECT sum(total_orders), sum(total_revenue) FROM "
        f"read_parquet('{out}/daily_sales/*.parquet')").fetchone()
    if rows != facts["rows"]:
        fails.append(f"slice holds {rows} rows, staged {facts['rows']}")
    for name, v in (("sum(total_orders)", total_orders),
                    ("silver rows", jvm["counts"]["silver_rows"]),
                    ("bronze rows", jvm["counts"]["bronze_rows"])):
        if v != rows:
            fails.append(f"{name} is {v}, slice holds {rows} rows")
    if not math.isclose(total_revenue, amount, rel_tol=REL_TOL):
        fails.append(f"sum(total_revenue) is {total_revenue}, slice amounts sum to {amount}")
    want = {"bronze_rows": rows, "silver_rows": rows, "quarantined": False,
            "daily_sales_rows": n_daily, "clv_rows": n_clv}
    for i, s in enumerate(jvm["summaries"]):
        bad = {k: s[k] for k, v in want.items() if s[k] != v}
        if bad:
            fails.append(f"pass {i} summary {bad}, expected {want}")
    if len(jvm["summaries"]) != len(jvm["op_ms"]):
        fails.append("a timed pass left no summary")
    return fails


def stream_cycles(data, out, jvm, facts):
    """The gold view equals a plain group-by over the landed files, holds every
    landed row, and bronze holds each order exactly once."""
    con = duckdb.connect()
    with open(os.path.join(out, "landed.txt")) as f:
        landed = [os.path.join(data, "stream", n) for n in f.read().split()]
    if len(landed) != jvm["landed"]:
        return [f"{len(landed)} files listed as landed, JVM landed {jvm['landed']}"]
    files = ", ".join("'" + p.replace("'", "''") + "'" for p in landed)
    con.execute(f"CREATE VIEW landed AS SELECT * FROM read_json([{files}], columns={{"
                "'order_id': 'BIGINT', 'order_date': 'VARCHAR', "
                "'order_amount': 'DOUBLE', 'customer_id': 'BIGINT'})")
    _, expected = _query(con, "SELECT order_date, count(*), sum(order_amount) "
                              "FROM landed GROUP BY 1 ORDER BY 1")
    _, got = _query(con, f"SELECT order_date, n_rows, sum_order_amount FROM "
                         f"read_parquet('{out}/view/*.parquet') ORDER BY 1")
    fails = compare_rows("gold view", got, expected)
    rows_landed = con.execute("SELECT count(*) FROM landed").fetchone()[0]
    n_rows = con.execute(f"SELECT sum(n_rows) FROM read_parquet('{out}/view/*.parquet')"
                         ).fetchone()[0]
    if n_rows != rows_landed:
        fails.append(f"sum(n_rows) is {n_rows}, {rows_landed} rows landed")
    total, distinct = con.execute(
        f"SELECT count(*), count(DISTINCT order_id) FROM "
        f"read_parquet('{out}/bronze/*.parquet')").fetchone()
    if total != rows_landed:
        fails.append(f"bronze holds {total} rows, {rows_landed} rows landed")
    if distinct != total:
        fails.append(f"bronze holds {total - distinct} duplicate order_id rows")
    return fails


def _ranked(label, rows, query_ids, corpus, k):
    """Every query has k rows ranked 1..k with non-increasing fused scores, over
    documents that exist."""
    fails = []
    by_q = {}
    for q, rank, doc, rrf in rows:
        by_q.setdefault(q, []).append((rank, doc, rrf))
    if set(by_q) != set(query_ids):
        return [f"{label}: answered queries {sorted(by_q)}, sent {sorted(query_ids)}"]
    for q, rs in by_q.items():
        rs.sort()
        if [r[0] for r in rs] != list(range(1, k + 1)):
            fails.append(f"{label}: query {q} ranks {[r[0] for r in rs]}")
        if any(b[2] > a[2] for a, b in zip(rs, rs[1:])):
            fails.append(f"{label}: query {q} scores rise with rank")
        missing = [r[1] for r in rs if r[1] not in corpus]
        if missing:
            fails.append(f"{label}: query {q} returned unknown documents {missing}")
    return fails


def index_serving(data, out, jvm, facts, k=10):
    """Every call returns k well-ranked rows per query from the corpus, and the
    oracle batch equals DuckDB running the program's hybrid oracle SQL."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{data}/documents.parquet')")
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{data}/embeddings.parquet')")
    corpus = {r[0] for r in con.execute("SELECT doc_id FROM documents").fetchall()}
    calls = {}
    with open(os.path.join(out, "serving_results.csv")) as f:
        for line in f.read().split():
            tag, q, rank, doc, rrf = line.split(",")
            calls.setdefault(tag, []).append((int(q), int(rank), int(doc), float(rrf)))
    with open(os.path.join(out, "queries_sent.txt")) as f:
        sent = [[int(x) + 1000000 for x in line.split()] for line in f.read().splitlines()]
    fails = []
    if len(sent) != len(jvm["op_ms"]):
        fails.append(f"{len(sent)} batches sent, {len(jvm['op_ms'])} calls timed")
    for i, ids in enumerate(sent):
        fails += _ranked(f"call {i}", calls.get(f"call{i}", []), ids, corpus, k)
    oracle = calls.get("oracle", [])
    fails += _ranked("oracle batch", oracle, [1000000 + i for i in range(5)], corpus, k)
    with open(os.path.join(out, "oracle_sql.json")) as f:
        sql = json.load(f)["hybrid"]
    _, expected = _query(con, f"SELECT query_id, rank, doc_id, rrf FROM ({sql}) "
                              "ORDER BY query_id, rank")
    fails += compare_rows("oracle batch vs DuckDB", sorted(oracle), expected)
    return fails


CHECKS = {
    "medallion_batch": medallion_batch,
    "stream_cycles": stream_cycles,
    "index_serving": index_serving,
}
