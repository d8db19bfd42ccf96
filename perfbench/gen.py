"""Seeded input generator for the benchmark.

Writes the tables the query registry reads (`region` ... `embeddings`)
as single parquet files shaped like the sf0.1 fixture: the same columns,
parquet types (pyarrow-written, naive `timestamp[us]`), row counts and
value domains. With `tile > 1` the `documents` and `embeddings` tables
become the `llm_corpus` corpus: the base table tiled `tile` times with
fresh ids and seeded edits, plus planted exact and near duplicates;
the planted (source id, copy id) pairs go to `planted.json`.

The same seed always gives byte-identical tables.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 row counts of the fixture tables
ROWS = {"customer": 15_000, "supplier": 1_000, "part": 20_000,
        "orders": 150_000, "lineitem": 600_000, "events": 100_000,
        "documents": 5_000, "embeddings": 2_000}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EMB_DIM = 64
# llm_corpus make-up: share of each tiled table that is a planted exact
# copy, and a planted near copy (one edited word / a small perturbation)
EXACT_SHARE = 0.03
NEAR_SHARE = 0.05
DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _docs(rng, n):
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), lens.sum())
    texts, at = [], 0
    for ln in lens:
        texts.append(" ".join(VOCAB[w] for w in words[at:at + ln]))
        at += ln
    return texts


def _edit(rng, text, share):
    """Resample `share` of the words of `text` (at least one)."""
    ws = text.split(" ")
    k = max(1, int(round(share * len(ws))))
    for i in rng.choice(len(ws), size=min(k, len(ws)), replace=False):
        ws[i] = VOCAB[rng.integers(0, len(VOCAB))]
    return " ".join(ws)


def _unit(v):
    return (v / np.linalg.norm(v, axis=-1, keepdims=True)).astype(np.float32)


def _region(rng, scale):
    return {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": REGIONS}


def _nation(rng, scale):
    return {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(rng.integers(0, 5, 25).astype(np.int32))}


def _rows(name, scale):
    return max(1, int(ROWS[name] * scale))


def _customer(rng, scale):
    n = _rows("customer", scale)
    return {"c_custkey": np.arange(n, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n)]}


def _supplier(rng, scale):
    n = _rows("supplier", scale)
    return {"s_suppkey": np.arange(n, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n)}


def _part(rng, scale):
    n = _rows("part", scale)
    return {"p_partkey": np.arange(n, dtype=np.int64),
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                       zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n)],
            "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
            "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2)}


def _orders(rng, scale):
    n = _rows("orders", scale)
    return {"o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, _rows("customer", scale), n),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n)],
            "o_totalprice": _money(rng, 1000, 500000, n),
            "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n) * DAY_US),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n)]}


def _lineitem(rng, scale):
    n = _rows("lineitem", scale)
    return {"l_orderkey": rng.integers(0, _rows("orders", scale), n),
            "l_partkey": rng.integers(0, _rows("part", scale), n),
            "l_suppkey": rng.integers(0, _rows("supplier", scale), n),
            "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, n),
            "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n)],
            "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2499, n) * DAY_US)}


def _events(rng, scale):
    n = _rows("events", scale)
    gaps = rng.integers(1, int(52_000_000 / scale), n)
    return {"event_id": np.arange(n, dtype=np.int64),
            "ts": _ts(EPOCH_2024 + np.cumsum(gaps)),
            "user_id": rng.integers(0, max(1, int(1500 * scale)), n),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
            "value": _money(rng, 0, 560, n),
            "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n)]}


BASE = {"region": _region, "nation": _nation, "customer": _customer,
        "supplier": _supplier, "part": _part, "orders": _orders,
        "lineitem": _lineitem, "events": _events}


def corpus(rng, tile, scale):
    """documents + embeddings: the base tables at `scale` × sf0.1, then
    `tile - 1` edited copies with fresh ids, then planted duplicates."""
    n = _rows("documents", scale)
    texts = _docs(rng, n)
    for _ in range(1, tile):
        texts += [_edit(rng, x, 0.5) for x in texts[:n]]
    m = len(texts)
    n_exact, n_near = int(m * EXACT_SHARE), int(m * NEAR_SHARE)
    src_docs = rng.integers(0, m, n_exact + n_near)
    texts += [texts[i] for i in src_docs[:n_exact]]
    texts += [_edit(rng, texts[i], 0.0) for i in src_docs[n_exact:]]
    ids = np.arange(len(texts), dtype=np.int64)
    docs = {"doc_id": ids, "text": texts,
            "lang": [LANGS[i] for i in rng.choice(5, len(texts), p=LANG_P)],
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64)}
    n = _rows("embeddings", scale) * tile
    vecs = _unit(rng.normal(size=(n, EMB_DIM)))
    n_near = int(n * NEAR_SHARE)
    src = rng.integers(0, n, n_near)
    near = _unit(vecs[src] + rng.normal(scale=0.04, size=(n_near, EMB_DIM)))
    vecs = np.concatenate([vecs, near])
    labels = rng.integers(0, 10, len(vecs)).astype(np.int32)
    emb = {"vec_id": np.arange(len(vecs), dtype=np.int64),
           "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
           "label": pa.array(labels)}
    make_up = {"tile": tile, "documents": len(texts),
               "planted_exact_docs": n_exact,
               "planted_near_docs": len(texts) - m - n_exact,
               "embeddings": len(vecs), "planted_near_vecs": n_near}
    # copy k of the documents has id m + k, of the vectors id n + k
    planted = {"docs": [[int(s), m + k] for k, s in enumerate(src_docs)],
               "vecs": [[int(s), n + k] for k, s in enumerate(src)]}
    return docs, emb, make_up, planted


def generate(out, seed, tables, tile=1):
    """Write the input tables for one run under `out`: each table named
    in `tables` at its scale times sf0.1; `documents` brings the corpus
    (documents and embeddings at its scale, tiled `tile` times). Each
    table draws from its own seeded stream. Returns the make-up."""
    os.makedirs(out, exist_ok=True)
    make_up = {"scale_of_sf0.1": tables}
    for k, name in enumerate(BASE):
        if name in tables:
            cols = BASE[name](np.random.default_rng([seed, k]), tables[name])
            _write(out, name, cols)
            make_up[name] = len(next(iter(cols.values())))
    if "documents" in tables:
        docs, emb, corpus_make_up, planted = corpus(
            np.random.default_rng([seed, 99]), tile, tables["documents"])
        _write(out, "documents", docs)
        _write(out, "embeddings", emb)
        make_up.update(corpus_make_up)
        with open(os.path.join(out, "planted.json"), "w") as f:
            json.dump(planted, f)
    with open(os.path.join(out, "make_up.json"), "w") as f:
        json.dump(make_up, f)
    return make_up
