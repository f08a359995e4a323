"""Deterministic sf0.1-shaped input tables for the benchmark.

The benchmark reads nothing outside its own checkout, so it builds its
inputs here instead of reading the shared fixtures. The tables have the
fixtures' names, column types, row counts and value ranges (see
FIXTURES.md), including the near-duplicate structure of ``documents``
that the dedup operators look for. The data seed is fixed: every
workload seed runs against the same tables, and the workload seed only
drives the order of operations and their parameters.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
# Bump when the generated content changes, so a stale cache is rebuilt.
VERSION = "1"

N_ORDERS = 150_000
N_LINEITEM = 600_000
N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_EVENTS = 100_000
N_DOCS = 5_000
N_DUP_DOCS = 250
N_VECS = 2_000
DIM = 64

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.5, 0.125, 0.125, 0.125, 0.125]


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return lo + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(days):
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _choice(rng, values, n, p=None):
    return pa.array(np.asarray(values)[rng.choice(len(values), n, p=p)])


def _tables(rng) -> dict[str, pa.Table]:
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": _money(rng, N_CUSTOMER, -999.99, 9999.99),
        "c_mktsegment": _choice(rng, ["MACHINERY", "AUTOMOBILE", "FURNITURE",
                                      "HOUSEHOLD", "BUILDING"], N_CUSTOMER),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPPLIER), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": _money(rng, N_SUPPLIER, -999.99, 9999.99),
    })
    adjectives = ["blue", "cold", "hot", "red", "small", "new", "old", "large"]
    nouns = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "nut"]
    names = [f"{a} {n}" for a in adjectives for n in nouns]
    pk = np.arange(N_PART)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": _choice(rng, names, N_PART),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, N_PART)]),
        "p_type": _choice(rng, ["LARGE", "ECONOMY", "STANDARD", "SMALL",
                                "MEDIUM", "PROMO"], N_PART),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], N_ORDERS),
        "o_totalprice": _money(rng, N_ORDERS, 1000.0, 500000.0),
        "o_orderdate": _ts(_days(rng, N_ORDERS, "1995-01-01", "2001-08-01")),
        "o_orderpriority": _choice(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                         "4-NOT SPECIFIED", "5-LOW"], N_ORDERS),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), pa.int32()),
        "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
        "l_extendedprice": _money(rng, N_LINEITEM, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], N_LINEITEM),
        "l_linestatus": _choice(rng, ["F", "O"], N_LINEITEM),
        "l_shipdate": _ts(_days(rng, N_LINEITEM, "1995-01-02", "2001-11-04")),
    })
    # ascending event times over 30 days from 2024-01-01
    gaps = rng.exponential(30 * 86400e6 / N_EVENTS, N_EVENTS).astype(np.int64)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, N_EVENTS), pa.int64()),
        "event_type": _choice(rng, ["signup", "click", "error", "view",
                                    "purchase"], N_EVENTS),
        "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]),
    })
    t["documents"] = _documents(rng)
    t["embeddings"] = _embeddings(rng)
    return t


def _documents(rng) -> pa.Table:
    """Random texts over a small vocabulary, plus ``N_DUP_DOCS`` near
    duplicates: a copy of an earlier text, sometimes with one word
    replaced, ending in the token ``dup``."""
    n_orig = N_DOCS - N_DUP_DOCS
    texts = [
        " ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), k)])
        for k in rng.integers(10, 100, n_orig)
    ]
    for _ in range(N_DUP_DOCS):
        words = texts[int(rng.integers(0, len(texts)))].split()
        if rng.random() < 0.5:
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        texts.append(" ".join(words + ["dup"]))
    order = rng.permutation(N_DOCS)
    texts = [texts[i] for i in order]
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": texts,
        "lang": _choice(rng, LANGS, N_DOCS, LANG_P),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, N_DOCS)]),
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })


def _embeddings(rng) -> pa.Table:
    """Unit vectors with a weak per-label centroid."""
    labels = rng.integers(0, 10, N_VECS)
    centroids = rng.normal(0.0, 1.0, (10, DIM))
    v = 0.5 * centroids[labels] + rng.normal(0.0, 1.0, (N_VECS, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def ensure(root: str) -> str:
    """Build the tables under ``root`` once; return their directory."""
    out = os.path.join(root, f"sf0.1-v{VERSION}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in _tables(np.random.default_rng(DATA_SEED)).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out
