"""Seeded generator for the tables the dashboard and dedup workloads read.

The tables follow the shape of the engine's sf0.1 test tables (a TPC-H-ish
star plus an `events` stream and a `documents` corpus): the same columns,
types, row counts and value distributions, drawn from one numpy generator
seeded by the workload seed. The same seed gives byte-identical parquet.

Usage: python3 gen_data.py <out_dir> <seed>
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_EVENTS = 100_000
N_USERS = 1_500
N_ORDERS = 150_000
N_CUSTOMERS = 15_000
N_LINEITEMS = 600_000
N_PARTS = 20_000
N_SUPPLIERS = 1_000
N_SOURCES = 20
DOCS_PER_SOURCE = 250
NEAR_DUP_SHARE = 0.05

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _us(d):
    return int(dt.datetime(d.year, d.month, d.day, tzinfo=dt.timezone.utc).timestamp() * 1_000_000)


def _ts(micros):
    return pa.array(micros, type=pa.timestamp("us"))


def events(rng):
    start = _us(dt.date(2024, 1, 1))
    span = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(start, start + span, N_EVENTS))
    value = np.round(np.abs(rng.normal(60.0, 50.0, N_EVENTS)), 2)
    return pa.table({
        "event_id": pa.array(np.arange(N_EVENTS, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, N_EVENTS)]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]),
    })


def customer(rng):
    keys = np.arange(N_CUSTOMERS, dtype=np.int64)
    return pa.table({
        "c_custkey": pa.array(keys),
        "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMERS, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMERS), 2)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, N_CUSTOMERS)]),
    })


def orders(rng):
    lo, hi = _us(dt.date(1992, 1, 1)) // 86_400_000_000, _us(dt.date(2001, 8, 1)) // 86_400_000_000
    days = rng.integers(lo, hi + 1, N_ORDERS)
    return pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMERS, N_ORDERS, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, N_ORDERS)]),
        "o_totalprice": pa.array(np.round(rng.uniform(850.0, 500_000.0, N_ORDERS), 2)),
        "o_orderdate": _ts(days * 86_400_000_000),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, N_ORDERS)]),
    }), days


def lineitem(rng, order_days):
    ok = rng.integers(0, N_ORDERS, N_LINEITEMS, dtype=np.int64)
    ship = order_days[ok] + rng.integers(1, 122, N_LINEITEMS)
    return pa.table({
        "l_orderkey": pa.array(ok),
        "l_partkey": pa.array(rng.integers(0, N_PARTS, N_LINEITEMS, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIERS, N_LINEITEMS, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEMS, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, N_LINEITEMS).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105_000.0, N_LINEITEMS), 2)),
        "l_discount": pa.array(rng.integers(0, 11, N_LINEITEMS) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, N_LINEITEMS) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, N_LINEITEMS)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, N_LINEITEMS)]),
        "l_shipdate": _ts(ship * 86_400_000_000),
    })


def documents(rng):
    """Uniform random texts over a 30-word vocabulary, 250 docs per source,
    plus a share of near duplicates: a doc in the same source copied with a
    few words replaced and the marker word `dup` appended, so the corpus has
    real Jaccard >= 0.5 clusters for the dedup chain to find."""
    n = N_SOURCES * DOCS_PER_SOURCE
    vocab = np.array(VOCAB)
    texts = []
    for i in range(n):
        src = i // DOCS_PER_SOURCE
        if i % DOCS_PER_SOURCE >= 10 and rng.random() < NEAR_DUP_SHARE:
            j = src * DOCS_PER_SOURCE + int(rng.integers(0, i % DOCS_PER_SOURCE))
            words = texts[j].split(" ")
            for _ in range(max(1, len(words) // 20)):
                words[int(rng.integers(0, len(words)))] = str(vocab[rng.integers(0, len(vocab))])
            texts.append(" ".join(words + ["dup"]))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i // DOCS_PER_SOURCE}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def generate(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    ords, days = orders(rng)
    tables = {
        "events": events(rng),
        "customer": customer(rng),
        "orders": ords,
        "lineitem": lineitem(rng, days),
        "documents": documents(rng),
    }
    for name, table in tables.items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]))
