"""Fixed synthetic corpus for the benchmark (TPC-H-ish star schema, an
event stream, a document corpus and an embedding table).

The corpus does not depend on the workload seed: query digests and
pipeline counts are pinned against it in ``expected.json``. The seed only
drives what the harness derives from it (the changelog, the key order).
The shape is the repo's sf0.1 testdata at SCALE: 0.5 gives 300 k lineitem
rows, 75 k orders, 50 k events, 2.5 k documents and 1 k embeddings.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42
SCALE = 0.5  # of the sf0.1 row counts
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ("en", "de", "es", "fr", "zh")


def _n(rows):
    return int(rows * SCALE)


def _rng(table):
    return np.random.default_rng([CORPUS_SEED, TABLES.index(table)])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, first, last, n):
    span = (np.datetime64(last, "D") - np.datetime64(first, "D")).astype(int)
    d = np.datetime64(first, "D") + rng.integers(0, span + 1, n)
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _choice(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    pa.string())


def region(_):
    return pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                "MIDDLE EAST"]})


def nation(_):
    return pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)],
                                             pa.int32())})


def customer(rng, n=_n(15000)):
    return pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _choice(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                      "HOUSEHOLD", "MACHINERY"], n)})


def supplier(rng, n=_n(1000)):
    return pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})


def part(rng, n=_n(20000)):
    adj = ["large", "hot", "blue", "old", "cold", "red", "green", "small"]
    noun = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "pipe"]
    names = [f"{a} {b}" for a in adj for b in noun]
    keys = np.arange(n)
    return pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": _choice(rng, names, n),
        "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], n),
        "p_type": _choice(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                                "SMALL", "STANDARD"], n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2)})


def orders(rng, n=_n(150000)):
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, _n(15000), n), pa.int64()),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n),
        "o_orderpriority": _choice(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                         "4-NOT SPECIFIED", "5-LOW"], n)})


def lineitem(rng, n=_n(600000)):
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, _n(150000), n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, _n(20000), n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, _n(1000), n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], n),
        "l_linestatus": _choice(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n)})


def events(rng, n=_n(100000)):
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n)) + \
        np.datetime64("2024-01-01", "us").astype(np.int64)
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, _n(1500), n), pa.int64()),
        "event_type": _choice(rng, ["signup", "click", "error", "view",
                                    "purchase"], n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def documents(rng, n=_n(5000)):
    """Random texts over a 30-word vocabulary; 5 % are near-duplicates of
    an earlier document (two words swapped out, ``dup`` appended) and a
    handful are exact copies, so both dedup stages have work to do.
    """
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            src = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(2):
                src[int(rng.integers(0, len(src)))] = WORDS[int(rng.integers(0, 30))]
            texts.append(" ".join(src + ["dup"]))
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, 30, k)))
    lang_p = np.array([0.41, 0.147, 0.147, 0.148, 0.148])
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": pa.array(np.asarray(LANGS, dtype=object)[
            rng.choice(5, n, p=lang_p / lang_p.sum())], pa.string()),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def embeddings(rng, n=_n(2000), dim=64, k=10):
    centroids = rng.normal(0.0, 0.07 / np.sqrt(dim), (k, dim)) * 8
    label = rng.integers(0, k, n)
    vec = centroids[label] + rng.normal(0.0, 1.0 / np.sqrt(dim), (n, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


def write(out_dir, tables=TABLES):
    os.makedirs(out_dir, exist_ok=True)
    for t in tables:
        pq.write_table(globals()[t](_rng(t)), os.path.join(out_dir, f"{t}.parquet"))
