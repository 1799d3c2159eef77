"""Deterministic inputs for the medallion benchmark, made from the run's seed.

The tables mirror the schemas and value ranges of the project's TPC-H-ish test
data (orders, customer, documents, embeddings), so the program and its DuckDB
oracle SQL read them unchanged. Orders come at a fixed count per day, so a slice
of D days always holds D * ORDERS_PER_DAY rows and writes the same number of
Hive partitions whatever the seed; the seed picks where the slice starts and the
values inside it.
"""
import datetime
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = datetime.date(1995, 1, 1)
CALENDAR_DAYS = 2405  # 1995-01-01 .. 2001-08-01, the span of the sf0.1 orders
ORDERS_PER_DAY = 62  # ~150,000 orders over the calendar, as at sf0.1
CUSTOMERS = 15000
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
DOCS = 5000
VECTORS = 2000
DIM = 64
VOCAB = ("a the data spark stream batch table row column key value group join "
         "filter sort hash scan query order customer part line window merge "
         "vector agg fast slow big small").split()


def _rng(seed, salt):
    return np.random.default_rng([int(seed), salt])


def slice_start(seed, days):
    """First calendar day (offset from EPOCH) of the seed's slice of `days` days."""
    return int(_rng(seed, 1).integers(0, CALENDAR_DAYS - days + 1))


def _orders(seed, first_day, days):
    """Order columns sorted by key, and each row's calendar day."""
    rng = _rng(seed, 2)
    n = days * ORDERS_PER_DAY
    day = np.repeat(np.arange(first_day, first_day + days), ORDERS_PER_DAY)
    keys = rng.permutation(n).astype(np.int64)
    order = np.argsort(keys)
    ts = (np.datetime64(EPOCH.isoformat(), "us")
          + day.astype("timedelta64[D]").astype("timedelta64[us]"))
    cols = {
        "o_orderkey": keys,
        "o_custkey": rng.integers(0, CUSTOMERS, n).astype(np.int64),
        "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
        "o_orderdate": ts,
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)],
    }
    return {k: v[order] for k, v in cols.items()}, day[order]


def write_orders_slice(seed, days, path):
    """The seed's `days`-day slice of orders, as one parquet file; returns its
    (first_day_iso, rows)."""
    first = slice_start(seed, days)
    cols, _ = _orders(seed, first, days)
    pq.write_table(pa.table({**cols, "o_orderdate": pa.array(
        cols["o_orderdate"], pa.timestamp("us"))}), path)
    return (EPOCH + datetime.timedelta(days=first)).isoformat(), len(cols["o_orderkey"])


def write_customers(seed, path):
    rng = _rng(seed, 3)
    keys = np.arange(CUSTOMERS, dtype=np.int64)
    pq.write_table(pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, 25, CUSTOMERS).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, CUSTOMERS), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, CUSTOMERS)],
    }), path)


def write_stream_files(seed, days, directory):
    """One JSON-lines file of orders per calendar day, `days` consecutive days
    from the seed's start, named so that lexical order is landing order.
    Returns the file names in landing order."""
    os.makedirs(directory, exist_ok=True)
    first = slice_start(seed, days)
    cols, day = _orders(seed, first, days)
    names = []
    for i in range(days):
        idx = np.nonzero(day == first + i)[0]
        date = (EPOCH + datetime.timedelta(days=first + i)).isoformat()
        name = f"orders-{i:05d}.json"
        with open(os.path.join(directory, name), "w") as f:
            for j in idx:
                f.write(json.dumps({
                    "order_id": int(cols["o_orderkey"][j]),
                    "order_date": date,
                    "order_amount": float(cols["o_totalprice"][j]),
                    "customer_id": int(cols["o_custkey"][j]),
                }) + "\n")
        names.append(name)
    return names


def write_corpus(seed, docs_path, emb_path):
    """Documents (whitespace-separated words) and 64-d embeddings."""
    rng = _rng(seed, 4)
    lens = rng.integers(10, 100, DOCS)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), n)]) for n in lens]
    pq.write_table(pa.table({
        "doc_id": np.arange(DOCS, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "de", "fr", "zh"])[rng.integers(0, 4, DOCS)],
        "source": [f"src{i % 5}" for i in range(DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), docs_path)
    labels = rng.integers(0, 10, VECTORS).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, DIM))
    vecs = (centers[labels] + rng.normal(0.0, 0.6, (VECTORS, DIM))).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": np.arange(VECTORS, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels,
    }), emb_path)


def query_sample(seed, calls, per_call):
    """The ids of the corpus rows each serving call sends as queries (ids below
    VECTORS, so each has both a text and an embedding)."""
    rng = _rng(seed, 5)
    return [sorted(int(x) for x in rng.choice(VECTORS, per_call, replace=False))
            for _ in range(calls)]
